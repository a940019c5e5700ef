"""Streaming partial-update state: the column-merge monoid as an
exactly-once, bucket-COW state store.

``operators/partial_update.py`` gives the algebra (mergeable per-key
state, associative ``merge_partial_states``); this module gives it the
operational shell a CDC consumer needs — the partial-update analogue of
what ``lake/replay.py`` + ``LakeTable`` are for row-level LWW, scoped to
the state-store shape (one current state, no time travel):

- **Exactly-once across restarts**: every applied batch id is recorded in
  the version's commit file; a re-delivered batch (foreachBatch re-offer
  after crash, or a batch-driver retry) is detected and skipped. The
  commit pointer advances by an atomic, fsynced replace
  (``lake.durable.replace_json``) AFTER the new state version is fully
  written, so a crash at any point leaves either the old committed state
  (batch re-applies cleanly) or the new one (batch skips) — never a torn
  state.
- **O(touched) maintenance, not O(state)**: state lives bucketed by the
  same full-key hash the lake uses (``bucket_expr`` — hot repos spread
  over all buckets). A batch folds map-side to per-key deltas, only the
  buckets its keys hash into are read+merged+rewritten, and every
  untouched bucket's files carry over into the new version by hard link
  (COW by reference, no data copy) — at 10^10 keys a small batch touches
  a few buckets' files, not the corpus.
- **Streaming**: ``stream_partial_state`` drains a parquet binlog dir via
  Structured Streaming ``foreachBatch`` (availableNow), idempotent per
  batchId from both Spark's offset log and the store's applied-batch
  guard — the standard exactly-once foreachBatch sink contract.

Reads: ``mergeable()`` returns the raw monoid state (feed it to
``merge_partial_states`` against another store for fan-in);
``visible()`` projects live rows via ``visible_partial``.
"""

from __future__ import annotations

import os
import shutil
import uuid
from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..lake import durable
from ..lake.table import bucket_expr
from ..operators.partial_update import (
    RESET_OPS_DEFAULT,
    fold_partial,
    merge_partial_states,
    visible_partial,
)

_BUCKET_COL = "_bucket"
APPLIED_WINDOW = 1024  # re-delivery detection horizon, in committed batches
KEEP_VERSIONS = 2  # current + previous (crash-recovery window)


class PartialStateStore:
    """Bucketed, versioned, exactly-once partial-update state directory.

    Layout::

        {path}/commit.json  -> {"version": N, "applied": [...], "config": {...}}
        {path}/v{N}/_bucket={b}/*.parquet   (mergeable monoid state)

    Single-writer by contract (one streaming query / one driver); the
    stamped config makes reopening with a mismatched layout an error
    instead of silent corruption. Re-delivery detection covers the last
    ``APPLIED_WINDOW`` committed batch ids; a re-apply beyond that window
    is state-idempotent (max-monoid) but bumps a spurious empty version.
    """

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        keys: Sequence[str] = ("repo", "path"),
        seq_col: str = "seq",
        op_col: str = "op",
        value_cols: Sequence[str] = ("commit", "lang", "content"),
        reset_ops: Sequence[str] = RESET_OPS_DEFAULT,
        n_buckets: int = 16,
    ) -> None:
        self.spark = spark
        self.path = path
        self.keys = list(keys)
        self.seq_col = seq_col
        self.op_col = op_col
        self.value_cols = list(value_cols)
        self.reset_ops = tuple(reset_ops)
        self.n_buckets = n_buckets
        os.makedirs(path, exist_ok=True)
        # layout/config is part of the state's identity: reopening an
        # existing store with a different bucket count or schema would
        # hash keys into the wrong buckets and silently corrupt merges,
        # so the first commit stamps the config and every reopen checks it
        stamped = self._load_commit().get("config")
        if stamped is not None and stamped != self._config():
            raise ValueError(
                f"store at {path} was created with config {stamped}, "
                f"reopened with {self._config()} — refusing to corrupt state"
            )

    def _config(self) -> dict:
        return {
            "keys": self.keys,
            "seq_col": self.seq_col,
            "op_col": self.op_col,
            "value_cols": self.value_cols,
            "reset_ops": list(self.reset_ops),
            "n_buckets": self.n_buckets,
        }

    # ---------------- commit bookkeeping ----------------

    def _commit_path(self) -> str:
        return os.path.join(self.path, "commit.json")

    def _load_commit(self) -> dict:
        try:
            return durable.load_json(self._commit_path())
        except FileNotFoundError:
            return {"version": -1, "applied": []}

    def version(self) -> int:
        return self._load_commit()["version"]

    def applied(self) -> set:
        return set(self._load_commit()["applied"])

    def _vdir(self, version: int) -> str:
        return os.path.join(self.path, f"v{version}")

    # ---------------- reads ----------------

    def mergeable(self, version: int | None = None) -> DataFrame | None:
        """The raw monoid state (None before the first commit)."""
        v = self.version() if version is None else version
        if v < 0:
            return None
        return self.spark.read.parquet(self._vdir(v))

    def visible(self) -> DataFrame:
        st = self.mergeable()
        if st is None:
            raise ValueError("no committed state yet")
        return visible_partial(st.drop(_BUCKET_COL), self.keys, self.value_cols)

    # ---------------- writes ----------------

    def apply_batch(self, events: DataFrame, batch_id: int) -> bool:
        """Fold one change batch into the state, exactly once.

        Returns False (no-op) if ``batch_id`` was already applied —
        re-delivery after a crash between commit and the caller's own
        checkpoint is the normal path, not an error.
        """
        commit = self._load_commit()
        if batch_id in commit["applied"]:
            return False
        cur_v = commit["version"]
        # single-writer store (one streaming query / one driver owns it, by
        # contract — multi-writer tables are LakeTable's job); any tmp-*
        # debris here is a previous crashed attempt by the same owner
        for name in os.listdir(self.path):
            if name.startswith("tmp-"):
                shutil.rmtree(os.path.join(self.path, name), ignore_errors=True)
        # persist the folded delta: it is read twice (touched-bucket collect
        # + the merged write), and recomputing it from a nondeterministic or
        # mutating source between the two actions could produce a bucket
        # absent from `touched` — which would then be written delta-only and
        # excluded from the hard-link carry-over, dropping its base keys
        delta = (
            fold_partial(
                events, self.keys, self.seq_col, self.op_col, self.value_cols, self.reset_ops
            )
            .withColumn(_BUCKET_COL, bucket_expr(self.n_buckets, tuple(self.keys)))
            .persist()
        )
        tmp = os.path.join(self.path, f"tmp-{uuid.uuid4().hex[:8]}")
        if cur_v < 0 and not delta.take(1):
            # empty FIRST batch (streaming legitimately delivers empty
            # micro-batches): record it applied without creating a version
            # dir — an empty v0 parquet dir would fail schema inference on
            # every later read. Later empty batches flow through normally
            # (no written buckets -> full hard-link carry-over).
            delta.unpersist()
            commit = {
                "version": -1,
                "applied": (commit["applied"] + [batch_id])[-APPLIED_WINDOW:],
                "config": self._config(),
            }
            durable.replace_json(self._commit_path(), commit)
            return True
        if cur_v < 0:
            merged, touched = delta, None  # first batch: all buckets are new
        else:
            # O(touched): only the buckets the delta's keys hash into are
            # read and re-merged; the rest carry over by hard link below.
            touched = sorted(
                r[_BUCKET_COL]
                for r in delta.select(_BUCKET_COL).distinct().collect()  # ≤ n_buckets rows
            )
            base = self.spark.read.parquet(self._vdir(cur_v)).filter(
                F.col(_BUCKET_COL).isin(touched)
            )
            # the one true monoid merge (operators.partial_update); the
            # bucket column is key-determined, so re-derive it afterwards
            merged = merge_partial_states(
                base.drop(_BUCKET_COL), delta.drop(_BUCKET_COL), self.keys, self.value_cols
            ).withColumn(_BUCKET_COL, bucket_expr(self.n_buckets, tuple(self.keys)))
        (
            merged.repartition(min(self.n_buckets, 8), F.col(_BUCKET_COL))
            .write.mode("overwrite")
            .partitionBy(_BUCKET_COL)
            .parquet(tmp)
        )
        new_dir = self._vdir(cur_v + 1)
        shutil.rmtree(new_dir, ignore_errors=True)  # debris from a crashed attempt
        os.makedirs(new_dir)
        written = {
            d for d in os.listdir(tmp) if d.startswith(f"{_BUCKET_COL}=")
        }
        for d in written:
            os.rename(os.path.join(tmp, d), os.path.join(new_dir, d))
        if cur_v >= 0:
            for d in os.listdir(self._vdir(cur_v)):
                if d.startswith(f"{_BUCKET_COL}=") and d not in written:
                    self._link_dir(os.path.join(self._vdir(cur_v), d), os.path.join(new_dir, d))
        shutil.rmtree(tmp, ignore_errors=True)
        delta.unpersist()
        # publish: atomic pointer replace AFTER the version dir is complete
        commit = {
            "version": cur_v + 1,
            # the guard window: re-delivery more than APPLIED_WINDOW
            # commits back is no longer detected (see class docstring; the
            # max-monoid makes such a re-apply state-idempotent anyway —
            # only a spurious version with an empty diff results)
            "applied": (commit["applied"] + [batch_id])[-APPLIED_WINDOW:],
            "config": self._config(),
        }
        durable.replace_json(self._commit_path(), commit)
        # prune old versions beyond the recovery window
        for name in os.listdir(self.path):
            if name.startswith("v") and name[1:].isdigit() and int(name[1:]) <= cur_v + 1 - KEEP_VERSIONS:
                shutil.rmtree(os.path.join(self.path, name), ignore_errors=True)
        return True

    def changes(self, from_version: int, to_version: int | None = None) -> DataFrame:
        """Row-level changelog between two committed versions — the store
        as a CDC SOURCE (same ``change_type`` vocabulary as
        lake/changelog.py: insert / delete / update_preimage /
        update_postimage).

        Touched-bucket detection costs zero data IO: untouched buckets
        carry between versions by hard link, so a bucket changed iff its
        file inode set differs — only those buckets' rows (both versions)
        enter the diff, a full-outer struct-equality join per key.
        Versions outside the retention window (KEEP_VERSIONS) raise."""
        to_v = self.version() if to_version is None else to_version
        if from_version == to_v:
            return self._empty_changes()
        for v in (from_version, to_v):
            if not os.path.isdir(self._vdir(v)):
                raise ValueError(
                    f"version {v} not on disk (pruned by KEEP_VERSIONS={KEEP_VERSIONS})"
                )

        def inodes(v: int, b: str) -> set:
            d = os.path.join(self._vdir(v), b)
            if not os.path.isdir(d):
                return set()
            return {os.stat(os.path.join(d, f)).st_ino for f in os.listdir(d) if f.endswith(".parquet")}

        all_buckets = {
            b
            for v in (from_version, to_v)
            for b in os.listdir(self._vdir(v))
            if b.startswith(f"{_BUCKET_COL}=")
        }
        touched = sorted(
            int(b.split("=", 1)[1])
            for b in all_buckets
            if inodes(from_version, b) != inodes(to_v, b)
        )
        if not touched:
            return self._empty_changes()

        def vis(v: int) -> DataFrame:
            st = self.mergeable(v).filter(F.col(_BUCKET_COL).isin(touched)).drop(_BUCKET_COL)
            return visible_partial(st, self.keys, self.value_cols)

        from ..operators.diff import image_diff

        pre, post = vis(from_version), vis(to_v)
        payload = [*self.value_cols, "last_seq"]
        return image_diff(
            pre.select(*self.keys, *payload),
            post.select(*self.keys, *payload),
            self.keys,
            change_col="change_type",
        )

    def _empty_changes(self) -> DataFrame:
        st = self.mergeable()
        if st is None:
            raise ValueError("no committed state yet")
        empty = visible_partial(st.drop(_BUCKET_COL), self.keys, self.value_cols).limit(0)
        return empty.withColumn("change_type", F.lit(None).cast("string"))

    _warned_copy_fallback = False

    @classmethod
    def _link_dir(cls, src: str, dst: str) -> None:
        """Carry a bucket into the new version by hard link (no data copy);
        cross-device fallback copies — loudly, once: on a filesystem
        without hard links the carry-over degrades from O(touched buckets)
        to O(state) per batch AND the inode-based touched-bucket diff in
        ``changes()`` sees every bucket as touched, so the module's scale
        contract silently fails without this signal."""
        os.makedirs(dst, exist_ok=True)
        for f in os.listdir(src):
            s, d = os.path.join(src, f), os.path.join(dst, f)
            try:
                os.link(s, d)
            except OSError:
                if not cls._warned_copy_fallback:
                    cls._warned_copy_fallback = True
                    import warnings

                    warnings.warn(
                        "PartialStateStore: hard links unavailable on this "
                        "filesystem; falling back to full copies — per-batch "
                        "carry-over is now O(state), not O(touched buckets), "
                        "and version diffs degrade to full-corpus joins. "
                        "Place the store on a link-capable filesystem.",
                        RuntimeWarning,
                        stacklevel=2,
                    )
                shutil.copy2(s, d)


def stream_partial_state(
    spark: SparkSession,
    binlog_dir: str,
    store: PartialStateStore,
    checkpoint_dir: str,
    max_files_per_trigger: int = 1,
    batch_base: int = 2_000_000,
) -> None:
    """Drain a parquet binlog dir into the store via Structured Streaming
    and stop (availableNow). Exactly-once: Spark's offset log prevents
    re-reading drained files; the store's applied-batch guard makes any
    re-offered batch a no-op. ``batch_base`` namespaces streaming batch
    ids away from batch-driver epoch ids feeding the same store.

    An existing-but-empty binlog dir (producer created it, no file landed
    yet — the normal race for a scheduled drain) is a clean no-op."""
    try:
        schema = spark.read.parquet(binlog_dir).schema
    except Exception as exc:
        # only "nothing to drain yet" is a clean no-op; corrupt files,
        # permission errors etc. must surface, not skip a drain cycle
        msg = str(exc)
        if "PATH_NOT_FOUND" in msg or "UNABLE_TO_INFER_SCHEMA" in msg:
            return
        raise
    src = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(binlog_dir)
    )
    (
        src.writeStream.foreachBatch(
            lambda batch, bid: store.apply_batch(batch, batch_base + bid)
        )
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )
