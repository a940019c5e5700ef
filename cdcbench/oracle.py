"""DuckDB oracle over the binlog parquet a workload replayed.

The expected table state is a last-write-wins fold of the binlog: per
``(repo, path)`` the event with the highest ``seq`` wins and a winning
delete removes the key. It shares no code with the engine.
"""

from __future__ import annotations

import os
from typing import Any

import duckdb

#: order-independent digest of a live-row set: row count plus the sum of
#: a per-row hash of ``repo|path|content_sha256|last_seq``
DIGEST_SQL = """
SELECT count(*) AS n,
       coalesce(sum(hash(repo || '|' || path || '|' || content_sha256 || '|'
                         || CAST(last_seq AS VARCHAR))::HUGEINT), 0) AS h
FROM {rel}
"""


class Oracle:
    def __init__(self, binlog_dir: str, threads: int):
        self.glob = os.path.join(os.path.abspath(binlog_dir), "*", "*.parquet")
        self.con = duckdb.connect()
        self.con.execute(f"SET threads = {int(threads)}")
        self.con.execute("SET memory_limit = '1GB'")

    def close(self) -> None:
        self.con.close()

    def materialize(self, name: str, max_epoch: int | None = None) -> None:
        """Create table ``name``: the live rows after every epoch
        ``<= max_epoch`` (all epochs when None)."""
        where = "" if max_epoch is None else f"WHERE epoch <= {int(max_epoch)}"
        self.con.execute(
            f"""
            CREATE OR REPLACE TABLE {name} AS
            SELECT repo, path, content, sha256(content) AS content_sha256,
                   seq AS last_seq
            FROM (
                SELECT repo, path, content, op, seq,
                       row_number() OVER (PARTITION BY repo, path ORDER BY seq DESC) AS rn
                FROM read_parquet('{self.glob}', hive_partitioning = true)
                {where}
            )
            WHERE rn = 1 AND op <> 'delete'
            """
        )

    def digest(self, rel: str) -> tuple[int, int]:
        n, h = self.con.execute(DIGEST_SQL.format(rel=rel)).fetchone()
        return int(n), int(h)

    def digest_arrow(self, live: Any) -> tuple[int, int]:
        """Digest of an Arrow table of engine rows with the same columns."""
        self.con.register("engine_rows", live)
        try:
            return self.digest("engine_rows")
        finally:
            self.con.unregister("engine_rows")

    def per_repo(self, state: str) -> set[tuple[str, int, int]]:
        """The gold view's expected rows: live paths and content bytes per repo."""
        rows = self.con.execute(
            f"SELECT repo, count(*), sum(strlen(content)) FROM {state} GROUP BY repo"
        ).fetchall()
        return {(r, int(n), int(b)) for r, n, b in rows}

    def change_counts(self, before: str, after: str) -> dict[str, int]:
        """Row-level changes between two states, counted per change type."""
        ins, dele, upd = self.con.execute(
            f"""
            SELECT count(*) FILTER (WHERE b.path IS NULL),
                   count(*) FILTER (WHERE a.path IS NULL),
                   count(*) FILTER (WHERE a.path IS NOT NULL AND b.path IS NOT NULL
                                    AND a.last_seq <> b.last_seq)
            FROM {after} a FULL OUTER JOIN {before} b USING (repo, path)
            """
        ).fetchone()
        return {
            "insert": int(ins),
            "delete": int(dele),
            "update_preimage": int(upd),
            "update_postimage": int(upd),
        }

    def pick_keys(self, state: str, where: str, n: int, seed: int) -> list[tuple[str, str, str, int]]:
        """``n`` live rows matching ``where``, chosen by ``seed``."""
        return [
            (r, p, s, int(q))
            for r, p, s, q in self.con.execute(
                f"""
                SELECT repo, path, content_sha256, last_seq FROM {state}
                WHERE {where}
                ORDER BY hash(repo || '|' || path || '|' || CAST({int(seed)} AS VARCHAR)), repo, path
                LIMIT {int(n)}
                """
            ).fetchall()
        ]
