"""Durable JSON control files: the one way a control file is written or read.

The small JSON files exactly-once rests on (metadata versions, VERSION,
manifests, checkpoints, MV markers and cursor hints, partial-state and
LSH-index commit files) are written only by :func:`replace_json` (a
pointer that moves: atomic ``os.replace``) or :func:`create_json` (an
immutable file: ``os.link`` is atomic fail-if-exists, the local-FS
compare-and-swap), and parsed only by :func:`load_json`.

Both writers fsync a temp file beside the target, publish it, then fsync
the directory. Without the first fsync a power loss can persist the
publish but not the data, leaving a 0-byte or truncated file under the
published name (Pillai et al., "All File Systems Are Not Created Equal",
OSDI 2014); without the second the publish itself can be lost. Temp
names are ``.<name>.<random>.tmp``: dot files are skipped by directory
scans, and ``LakeTable.remove_orphan_files`` collects a killed writer's.
"""

from __future__ import annotations

import json
import os
import uuid
from typing import Any


class TornFileError(ValueError):
    """A control file exists but is empty or not valid JSON — the trace of
    a write that was published without its data reaching disk."""

    def __init__(self, path: str):
        super().__init__(f"torn control file (empty or undecodable JSON): {path}")
        self.path = path


def _fsync_dir(d: str) -> None:
    fd = os.open(d, os.O_RDONLY)
    try:
        os.fsync(fd)
    finally:
        os.close(fd)


def _publish(path: str, obj: Any, publish) -> None:
    d, name = os.path.split(path)
    tmp = os.path.join(d, f".{name}.{uuid.uuid4().hex[:8]}.tmp")
    try:
        with open(tmp, "w") as f:
            json.dump(obj, f)
            f.flush()
            os.fsync(f.fileno())
        publish(tmp, path)
    finally:
        # gone after a replace; after a link (won or lost) or a failed
        # write it is removed here, so only a killed process leaves one
        if os.path.exists(tmp):
            os.remove(tmp)
    _fsync_dir(d or ".")


def replace_json(path: str, obj: Any) -> None:
    """Atomically make ``path`` hold ``obj`` (creating or replacing it)."""
    _publish(path, obj, os.replace)


def create_json(path: str, obj: Any) -> None:
    """Publish ``obj`` at ``path`` only if nothing is there yet; raises
    ``FileExistsError`` (leaving no temp file) when ``path`` exists."""
    _publish(path, obj, os.link)


def load_json(path: str) -> Any:
    """Parse a control file; ``FileNotFoundError`` passes through (absence
    is a state callers handle), a torn file raises :class:`TornFileError`."""
    with open(path) as f:
        try:
            return json.load(f)
        except ValueError:  # JSONDecodeError, and UnicodeDecodeError on junk bytes
            raise TornFileError(path) from None
