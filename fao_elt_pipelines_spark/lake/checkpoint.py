"""Durable epoch/offset checkpoints.

The reference tracks progress only in memory (``pages_fetched`` /
LIMIT-OFFSET cursor, ``/root/reference/ingestion/api_client.py:191``,
``pg_client.py:212-241``) and is lost on crash. The engine's checkpoint is a
tiny JSON document replaced atomically and durably (``durable.replace_json``:
fsync, rename, fsync the directory) after each table commit, recording the
last applied ``(epoch, seq_hi)`` per source. A torn checkpoint (published
without its data blocks) raises ``durable.TornFileError`` naming the file;
deleting it is safe for exactly-once (below) but drops the persisted expiry
and bootstrap watermarks.

Exactly-once does NOT depend on this file: the table snapshot itself records
the epoch id, and replay skips epochs in ``LakeTable.committed_epochs()``.
The checkpoint only makes resume O(1) (no snapshot-log scan) and carries the
source offset for a real binlog tail. A crash between table commit and
checkpoint write therefore re-offers the epoch, the table skips it, and the
checkpoint heals — no duplicate or lost applies.
"""

from __future__ import annotations

import os
from typing import Any

from . import durable


class CheckpointStore:
    def __init__(self, path: str):
        self.path = path
        os.makedirs(os.path.dirname(path) or ".", exist_ok=True)

    def load(self) -> dict[str, Any]:
        try:
            return durable.load_json(self.path)
        except FileNotFoundError:
            return {"sources": {}}

    def last_epoch(self, source: str = "binlog") -> int | None:
        e = self.load()["sources"].get(source)
        return None if e is None else e["epoch"]

    def commit(self, source: str, epoch: int, seq_hi: int, extra: dict | None = None) -> None:
        doc = self.load()
        doc["sources"][source] = {"epoch": epoch, "seq_hi": seq_hi, **(extra or {})}
        self._write(doc)

    def expiry_watermark(self, source: str = "binlog") -> int | None:
        """Highest seq that tombstone expiry has assumed final for this
        source, persisted so a resumed replay re-arms the resurrection
        guard (an in-memory-only watermark would silently vanish across
        restarts — exactly the crash-resume path this engine makes
        first-class). Kept outside the ``sources`` entry so ``commit``'s
        whole-entry replace can't drop it."""
        return self.load().get("expiry", {}).get(source)

    def set_expiry_watermark(self, source: str, watermark: int) -> None:
        doc = self.load()
        cur = doc.setdefault("expiry", {}).get(source, 0)
        doc["expiry"][source] = max(cur, watermark)
        self._write(doc)

    def bootstrap_watermark(self, source: str = "binlog") -> int | None:
        """Consistent-snapshot seq of the initial load (lake.bootstrap):
        replay filters the binlog to ``seq > watermark`` because everything
        at or below it is already reflected in the snapshot rows. Kept
        outside ``sources`` for the same reason as the expiry watermark."""
        return self.load().get("bootstrap", {}).get(source)

    def set_bootstrap_watermark(self, source: str, watermark: int) -> None:
        doc = self.load()
        doc.setdefault("bootstrap", {})[source] = watermark
        self._write(doc)

    def _write(self, doc: dict[str, Any]) -> None:
        durable.replace_json(self.path, doc)
