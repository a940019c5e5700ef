"""Change intervals whose from-snapshot files plus added files differ from
the to-snapshot's files — compaction inside the interval (with and
without tombstone expiry), a key deleted and re-inserted, late events
that lose last-write-wins to the from-row, and several MOR generations.

Each case takes a MOR table already holding a replayed binlog and
commits one interval on top of it with small hand-built merges, so the
interval stays well under the MV's full-recompute ratio. Shared by the
changelog (brute-diff) and MV (full-recompute) equivalence tests.
"""

from fao_elt_pipelines_spark.lake.table import TOMBSTONE_COL

#: above every seq the test binlogs generate
SEQ = 1_000_000

_EVENT_SCHEMA = (
    "seq long, op string, repo string, path string, commit string, "
    "lang string, content string"
)


def _merge(spark, table, epoch, events):
    """Merge ``(op, key_row_or_(repo, path), content, seq)`` events as one
    MOR generation."""
    rows = [
        (seq, op, k[0], k[1], f"c{epoch}", "py", content)
        for op, k, content, seq in events
    ]
    table.merge_changes(
        spark.createDataFrame(rows, _EVENT_SCHEMA), epoch_id=epoch, mode="mor"
    )


def _keys(table):
    """(live rows, tombstone rows) at the head, key-ordered, each with
    last_seq >= 1 so a strictly older seq exists for late events."""
    rows = (
        table.read(include_tombstones=True)
        .select("repo", "path", "last_seq", TOMBSTONE_COL)
        .orderBy("repo", "path")
        .collect()
    )
    rows = [r for r in rows if r["last_seq"] >= 1]
    live = [r for r in rows if not r[TOMBSTONE_COL]]
    dead = [r for r in rows if r[TOMBSTONE_COL]]
    assert len(live) >= 40 and dead, "base table too small for the cases"
    return live, dead


def _merge_then_compact(spark, table, expire):
    live, _ = _keys(table)
    _merge(
        spark, table, 900,
        [("update", r, "compacted-v2", SEQ + i) for i, r in enumerate(live[:20])]
        + [("delete", r, None, SEQ + 100 + i) for i, r in enumerate(live[20:30])]
        + [("insert", ("new_repo", f"p{i}"), "fresh", SEQ + 200 + i) for i in range(5)],
    )
    # consumes the interval's delta file AND the from-snapshot's files of
    # the same buckets; with a watermark above every seq it also drops
    # every tombstone, old and new
    table.compact(expire_tombstones_below=10 * SEQ if expire else None)


def merge_then_compact(spark, table):
    _merge_then_compact(spark, table, expire=False)


def merge_then_compact_expire(spark, table):
    _merge_then_compact(spark, table, expire=True)


def delete_then_reinsert(spark, table):
    live, _ = _keys(table)
    ks = live[:10]
    transient = ("zz_repo", "transient")
    _merge(
        spark, table, 901,
        [("delete", r, None, SEQ + i) for i, r in enumerate(ks)]
        + [("insert", transient, "short-lived", SEQ + 50)],
    )
    # half come back with new content; the transient key is absent at
    # both ends of the interval
    _merge(
        spark, table, 902,
        [("insert", r, "back", SEQ + 100 + i) for i, r in enumerate(ks[:5])]
        + [("delete", transient, None, SEQ + 150)],
    )


def late_events_lose(spark, table):
    """Every event is older than the from-row of its key — live rows and
    tombstones alike — so the interval changes nothing."""
    live, dead = _keys(table)
    _merge(
        spark, table, 903,
        [("update", r, "stale", r["last_seq"] - 1) for r in live[:10]]
        + [("insert", r, "resurrected", r["last_seq"] - 1) for r in dead[:5]],
    )


def three_generations(spark, table):
    live, _ = _keys(table)
    _merge(spark, table, 904, [("update", r, "g1", SEQ + i) for i, r in enumerate(live[:20])])
    _merge(
        spark, table, 905,
        [("delete", r, None, SEQ + 100 + i) for i, r in enumerate(live[:5])]
        + [("update", r, "g2", SEQ + 110 + i) for i, r in enumerate(live[5:10])]
        + [("insert", ("g2_repo", "a"), "g2", SEQ + 120)],
    )
    _merge(
        spark, table, 906,
        [("insert", r, "g3", SEQ + 200 + i) for i, r in enumerate(live[:3])]
        + [("update", r, "g3", SEQ + 210 + i) for i, r in enumerate(live[10:12])],
    )


INTERVAL_CASES = {
    f.__name__: f
    for f in (
        merge_then_compact,
        merge_then_compact_expire,
        delete_then_reinsert,
        late_events_lose,
        three_generations,
    )
}
