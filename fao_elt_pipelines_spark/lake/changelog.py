"""Row-level changelog reads: the lake table as a CDC *source*.

``row_changes(table, from_sid, to_sid)`` emits the logical row-level
change stream between two committed snapshots — Iceberg's ``changes``
metadata table / Delta's Change Data Feed, derived here rather than
stored, so it costs nothing on the write path. Each changed key yields:

- ``insert``            — after-image of a key absent at ``from``
- ``delete``            — before-image of a key absent at ``to``
- ``update_preimage`` / ``update_postimage`` — both images of a key
  whose row differs between the snapshots

This closes the CDC loop: the engine *ingests* a binlog (lake.replay)
and *emits* one, so downstream incremental consumers (a second lake, a
search index, an embedding store) can subscribe to a table instead of
the upstream source. lake.mv is one such consumer specialized to
decomposable aggregates; this is the general-purpose surface.

Scale shape at 10^10 rows (the reason this is NOT ``read(a)`` full-outer
``read(b)``): ``interval_image`` builds both ends of the interval from
ONE scan of the from-snapshot and ONE aggregate —

- the interval's manifest entries (``_changes_entries`` — a driver-side
  metadata walk, no data IO) name the TOUCHED BUCKETS; only the
  from-snapshot's files in those buckets are read (tagged old), unioned
  with the interval's added files (tagged new), so a delta in 1 of 64
  buckets reads 1/64th of the table once, not two merged images;
- old rows of keys the interval never wrote cannot have changed; a
  semi-join against the interval's keys drops them before any shuffle;
- one ``groupBy(repo, path)`` LWW aggregate yields both live images of
  every written key as packed structs: ``before`` = the max-seq old row,
  ``after`` = the max-seq row of all of them (ties go to the new row);
- the pairs feed the classifier directly (one ``eqNullSafe`` per key), so
  no diff join runs and adding columns under schema evolution never
  changes the plan shape.

The LWW over (from-files ∪ interval files) IS the to-image: the
to-snapshot's files are the from-files plus the interval's adds minus
what compaction consumed; compaction keeps the LWW winners of what it
consumed, and tombstone expiry only drops a tombstone whose key it
leaves absent. A COW merge's rewritten bucket is an add carrying the
bucket's LWW state, which wins every tie against the files it replaced.

When the interval contains an operation whose retractions are not
visible as tombstoned file-adds (``overwrite``) or whose bucket ids
changed meaning (``rebucket``), that identity breaks — ``row_changes``
then falls back to a FULL diff of the two snapshots (both images
unrestricted, one full-outer join). Still exact, costs two scans; lake.mv
uses the same precondition set (``INCREMENTAL_SAFE_OPS``).

An expired ``from_snapshot_id`` raises the same ``ValueError`` as
``read()`` / ``changes_between`` — a resuming consumer must never
silently reprocess the full table as "changes".

Reference parity: the reference pipeline has no change *emission* at
all (dbt marts are full recomputes, ``/root/reference/dbt/models``);
this is the Spark-first generalization the north rule's incremental
architecture implies.
"""

from __future__ import annotations

from typing import Any

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators.diff import (
    DELETE,
    INSERT,
    UPDATE_POST,
    UPDATE_PRE,
    classify_changes,
    image_diff,
)
from .table import KEYS, TOMBSTONE_COL, LakeTable

#: snapshot operations whose full state transition is visible as
#: file-adds (+ tombstones) — the precondition of ``interval_image``.
#: ``overwrite`` drops every prior file without writing tombstones, so
#: its disappearing rows would never be retracted incrementally.
#: ``rebucket`` must stay excluded even though it moves bytes only: the
#: interval's change entries carry OLD-layout bucket ids while later
#: snapshots are NEW-layout, so the touched-bucket pruning would read
#: the wrong buckets — a full diff/recompute is the safe path.
INCREMENTAL_SAFE_OPS = frozenset({"merge", "append", "compact"})


def _tag(df: DataFrame, change_type, from_sid: int | None, to_sid: int) -> DataFrame:
    """Append the changelog metadata columns (``change_type`` may be a
    literal string or a Column)."""
    ct = F.lit(change_type) if isinstance(change_type, str) else change_type
    return df.select(
        "*",
        ct.alias("_change_type"),
        F.lit(from_sid).cast("long").alias("_from_snapshot_id"),
        F.lit(to_sid).cast("long").alias("_to_snapshot_id"),
    )


def row_changes(
    table: LakeTable,
    from_snapshot_id: int | None,
    to_snapshot_id: int | None = None,
) -> DataFrame:
    """Row-level changes in ``(from_snapshot_id, to_snapshot_id]``.

    ``from_snapshot_id=None`` is the initial load: every live row at
    ``to`` emits as ``insert`` (a consumer bootstraps exactly like
    lake.bootstrap's snapshot phase, then tails subsequent intervals).
    ``to_snapshot_id=None`` reads up to the current main head.

    Output schema = table schema + ``_change_type`` /
    ``_from_snapshot_id`` / ``_to_snapshot_id``. Deterministic set
    semantics (no ordering guarantee); updates emit exactly two rows.
    """
    meta = table._load_metadata()
    snap_to = LakeTable._snapshot(meta, to_snapshot_id)
    if snap_to is None:  # empty table, nothing ever committed
        return _empty_changelog(table, meta)
    to_sid = snap_to["snapshot_id"]

    if from_snapshot_id is None:
        return _tag(table._read_entries(meta, snap_to["manifest"]), INSERT, None, to_sid)

    # validates the cursor: raises on an expired/unknown from-snapshot
    entries = table._changes_entries(from_snapshot_id, to_sid, meta=meta)
    interval_ops = _interval_ops(table, meta, from_snapshot_id, to_sid)
    if (from_snapshot_id == to_sid or not entries) and "overwrite" not in interval_ops:
        # empty interval, or compact/rebucket-only (bytes moved, no
        # logical change): emit nothing without scanning anything. An
        # overwrite can drop every row while adding zero files, so it
        # must fall through to the full diff below.
        return _empty_changelog(table, meta)

    if interval_ops <= INCREMENTAL_SAFE_OPS:
        changes = classify_changes(
            interval_image(table, meta, from_snapshot_id, entries), KEYS
        )
    else:
        # overwrite dropped rows invisibly / rebucket renamed buckets:
        # the interval identity fails — diff the two full images
        changes = image_diff(
            table._read_entries(meta, LakeTable._snapshot(meta, from_snapshot_id)["manifest"]),
            table._read_entries(meta, snap_to["manifest"]),
            KEYS,
        )
    return changes.select(
        "*",
        F.lit(from_snapshot_id).cast("long").alias("_from_snapshot_id"),
        F.lit(to_sid).cast("long").alias("_to_snapshot_id"),
    )


def interval_image(
    table: LakeTable,
    meta: dict[str, Any],
    from_snapshot_id: int,
    entries: list[dict[str, Any]],
) -> DataFrame:
    """Both live images of every key the interval wrote, from one scan of
    the from-snapshot.

    ``entries`` are ``_changes_entries(from, to)`` of an interval whose
    operations are all in ``INCREMENTAL_SAFE_OPS`` (see the module
    docstring for why the result is then exact). Output = key columns +
    ``_b`` / ``_a`` payload structs (every non-key column but the
    tombstone flag), NULL where the key is absent — deleted or never
    written — at the from / to snapshot. Keys come out once each, only
    those with a row in ``entries``; equal pairs (a late event that lost
    LWW to the from-row) are the caller's to drop.
    """
    touched = {e["bucket"] for e in entries}
    from_snap = LakeTable._snapshot(meta, from_snapshot_id)
    old = [e for e in from_snap["manifest"] if e["bucket"] in touched]

    def rows(es: list[dict[str, Any]], new: bool) -> DataFrame:
        df = table._read_entries(meta, es, include_tombstones=True, merged=False)
        return df.withColumn("_new", F.lit(new))

    new = rows(entries, True)
    # Old rows of keys the interval never wrote cannot have changed: drop
    # them BEFORE the aggregate's shuffle, so it carries ~interval-sized
    # input even when a few keys touch most buckets. AQE broadcasts the
    # interval's keys when they are few and shuffles when they are not.
    old_rows = rows(old, False).join(new.select(*KEYS), list(KEYS), "left_semi")
    df = old_rows.unionByName(new)
    payload = [c for c in df.columns if c not in (*KEYS, TOMBSTONE_COL, "_new")]
    live = F.when(~F.coalesce(F.col(TOMBSTONE_COL), F.lit(False)), F.struct(*payload))
    # same NULL-seq rule as the MOR read-merge: append()-sourced rows rank
    # at -1. max_by skips rows whose ordering is NULL, which keeps the new
    # rows out of the before-image.
    seq = F.coalesce(F.col("last_seq"), F.lit(-1).cast("long"))
    return df.groupBy(*KEYS).agg(
        F.max_by(live, F.when(~F.col("_new"), seq)).alias("_b"),
        F.max_by(live, F.struct(seq, F.col("_new"))).alias("_a"),
    )


def apply_row_changes(state: DataFrame, changes: DataFrame) -> DataFrame:
    """Consumer-side application: fold a changelog into a prior state,
    reconstructing the after-image exactly (the contract tests assert
    ``apply(state@from, row_changes(from, to)) == read(to)``).

    Keys with a pre-image or delete leave; inserts and post-images
    arrive. Anti-join + union — the same two-step any idempotent sink
    (search index, key-value store) performs with delete+put batches.
    """
    cols = state.columns
    out_keys = changes.filter(
        F.col("_change_type").isin(DELETE, UPDATE_PRE)
    ).select(*KEYS)
    arrivals = changes.filter(F.col("_change_type").isin(INSERT, UPDATE_POST)).select(
        *cols
    )
    return state.join(out_keys, list(KEYS), "left_anti").unionByName(arrivals)


def replicate(
    source: LakeTable,
    target: LakeTable,
    ckpt,
    source_name: str = "changelog-mirror",
    mode: str = "mor",
) -> dict[str, Any]:
    """CDC fan-out: advance ``target`` to ``source``'s current state by
    consuming the changelog interval since the persisted cursor — the
    downstream half of the loop (a second lake, a region replica, a
    serving copy), built entirely from the engine's own primitives.

    Exactly-once composes from the same two layers replay uses:

    - the whole interval merges as ONE epoch tagged with the source's
      head snapshot id under ``source_name`` — a crashed/raced retry is
      skipped by the target's committed-epoch check, never re-applied;
    - the cursor in ``ckpt`` is advanced only after the target commit
      (a crash between the two re-offers the interval, the skip eats it,
      the cursor heals — the identical dance scripts/replay_job.py does
      for binlog epochs).

    Changelog rows fold to MERGE events: inserts/post-images upsert at
    their ``last_seq``; deletes emit at ``pre.last_seq + 1``, which beats
    the mirrored row it retracts and loses to any later change of the key
    (whose log position is strictly greater — seqs are global). Pre-images
    are dropped. The target recomputes ``content_sha256`` in the merge, so
    the sha-equality invariant holds per-row by construction.

    An expired source cursor (``expire_snapshots`` outran the mirror
    cadence) cannot be bridged incrementally: falls back to an exact
    ``overwrite`` resync at the pinned head — reported in the returned
    metrics, never silent.

    Cursor recovery: the effective ``from`` is the LATER of the ckpt
    cursor and the highest ``source_name`` epoch committed on the
    target (epoch ids here are source snapshot ids, so they are
    mutually ordered). The ckpt cursor alone is not enough — a crash
    between the target commit and the cursor advance, followed by the
    source moving its head, would re-diff a WIDER interval under a NEW
    epoch id: the committed-epoch skip no longer fires, and a key both
    inserted and deleted inside the widened interval diffs to nothing,
    leaving its already-mirrored insert stranded in the target forever.
    """
    meta = source._load_metadata()
    to_sid = meta["current_snapshot_id"]
    if to_sid is None:
        return {"mode": "noop", "reason": "empty source"}
    from_sid = ckpt.last_epoch(source_name)
    applied = _applied_head(target, source_name)
    if applied is not None and (from_sid is None or applied > from_sid):
        from_sid = applied
    if from_sid == to_sid:
        if ckpt.last_epoch(source_name) != from_sid:  # heal a lagging cursor
            ckpt.commit(source_name, epoch=int(to_sid), seq_hi=_seq_hi(meta, to_sid))
        return {"mode": "noop", "from": from_sid, "to": to_sid}

    resync = False
    if from_sid is not None:
        try:
            # validates the cursor (raises on expired) and names the
            # interval's touched entries without any data IO — a compact/
            # rebucket-only interval (no logical change) advances the
            # cursor and commits nothing on the target instead of merging
            # an empty changelog
            entries = source._changes_entries(from_sid, to_sid, meta=meta)
            interval_ops = _interval_ops(source, meta, from_sid, to_sid)
        except ValueError:
            resync = True
    if resync:
        target.overwrite(
            source.read(snapshot_id=to_sid), epoch_id=int(to_sid), source=source_name
        )
        ckpt.commit(source_name, epoch=int(to_sid), seq_hi=_seq_hi(meta, to_sid))
        return {"mode": "resync", "reason": "cursor expired", "to": to_sid}
    if from_sid is not None and not entries and "overwrite" not in interval_ops:
        ckpt.commit(source_name, epoch=int(to_sid), seq_hi=_seq_hi(meta, to_sid))
        return {"mode": "noop", "reason": "no logical change", "from": from_sid, "to": to_sid}

    ch = row_changes(source, from_sid, to_sid)
    # payload/types come from the changelog plan itself (pinned at to_sid),
    # never from a re-read of source.schema() that a concurrent schema
    # evolution could advance past the columns `ch` actually carries
    types = {f.name: f.dataType for f in ch.schema.fields}
    payload = [
        c
        for c in ch.columns
        if c
        not in ("content_sha256", "last_seq", "_change_type", "_from_snapshot_id", "_to_snapshot_id")
    ]
    non_key = [c for c in payload if c not in KEYS]
    null_of = {c: F.lit(None).cast(types[c]) for c in non_key}
    # the upsert and delete branches both hang off the diff — persist it
    # for the merge so the two image reads + diff join run once, not twice
    # (the merge materializes inside this call, so no cache escapes)
    ch = ch.persist()
    try:
        ups = ch.filter(F.col("_change_type").isin(INSERT, UPDATE_POST)).select(
            *payload,
            F.lit("upsert").alias("op"),
            F.col("last_seq").alias("seq"),
        )
        # Null-safe tombstone ordering: append()-sourced rows mirror with
        # last_seq NULL, and NULL + 1 = NULL would make the synthesized
        # delete tie (instead of win) against the mirrored row under the
        # read path's coalesce(-1) order. NULL normalizes to -1, so the
        # tombstone lands at seq 0 and deterministically outranks it.
        dels = ch.filter(F.col("_change_type") == DELETE).select(
            *KEYS,
            *[null_of[c].alias(c) for c in non_key],
            F.lit("delete").alias("op"),
            (F.coalesce(F.col("last_seq"), F.lit(-1)) + 1).alias("seq"),
        )
        target.merge_changes(
            ups.unionByName(dels), epoch_id=int(to_sid), mode=mode, source=source_name
        )
    finally:
        ch.unpersist()
    ckpt.commit(source_name, epoch=int(to_sid), seq_hi=_seq_hi(meta, to_sid))
    return {"mode": "incremental", "from": from_sid, "to": to_sid}


def _applied_head(target: LakeTable, source_name: str) -> int | None:
    """Highest ``source_name`` epoch actually committed on the target's
    main ancestry (expired ones included) — the recovery floor for the
    mirror cursor. Scoped strictly to snapshots tagged with this source:
    source-less epochs from other feeds must not fake progress."""
    m = target._load_metadata()
    eids = [
        int(e) for e in m.get("expired_epochs_by_source", {}).get(source_name, [])
    ]
    eids += [
        s["epoch_id"]
        for s in target._ancestry(m, target._head(m, "main"))
        if s.get("source") == source_name and s.get("epoch_id") is not None
    ]
    return max(eids) if eids else None


def _seq_hi(meta: dict[str, Any], sid: int) -> int:
    """The source's binlog high-water mark at snapshot ``sid``, from the
    manifest's per-file ``last_seq`` stats (driver-side metadata walk, no
    data IO) — the checkpoint contract stores a LOG position in seq_hi,
    never a snapshot id."""
    his = [
        e["stats"]["last_seq"][1]
        for e in LakeTable._snapshot(meta, sid)["manifest"]
        if e.get("stats", {}).get("last_seq")
    ]
    return int(max(his)) if his else 0


def _interval_ops(
    table: LakeTable, meta: dict[str, Any], from_sid: int, to_sid: int
) -> set[str]:
    """Operations of the published ancestry in (from, to] — the raw
    snapshot log may carry unpublished WAP/staging commits that never
    affected this lineage."""
    return {
        s["operation"]
        for s in table._ancestry(meta, to_sid)
        if from_sid < s["snapshot_id"] <= to_sid
    }


def _empty_changelog(table: LakeTable, meta: dict[str, Any]) -> DataFrame:
    empty = table._read_entries(meta, [])
    return _tag(empty, F.lit(None).cast("string"), None, -1).limit(0)
