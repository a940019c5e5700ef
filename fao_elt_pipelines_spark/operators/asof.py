"""Distributed as-of (temporal) join.

For every left row, attach the single right row with the same equality
keys whose timestamp is the latest at-or-before the left row's timestamp
(``direction='backward'``; ``'forward'`` takes the earliest at-or-after).
The classic stream-enrichment primitive — "what was the state when this
event happened" — that plain equi-joins can't express and the reference's
SQL surface never needed at its ~600-row scale, but a CDC pipeline joining
events to dimension-change history needs constantly.

Spark has no built-in as-of join (pandas has ``merge_asof``; Flink calls
it a temporal join), so this is the union-window formulation, all
JVM-side, one shuffle:

1. Pack each right row's payload into one struct; tag right rows 0 and
   left rows 1 and UNION the two sides over (keys, ts, tag, payload).
2. One window per key ordered by (ts, tag, tiebreak) — rows-unbounded-
   preceding ``last(payload, ignorenulls=True)`` carries the most recent
   right payload forward onto every subsequent row. The tag makes a right
   row at the exact left timestamp sort first, i.e. the match is
   INCLUSIVE, same as DuckDB ``ASOF JOIN``'s ``>=`` and pandas
   ``merge_asof``'s default.
3. Keep the left rows, unpack the carried struct, optionally null it out
   when it falls outside ``tolerance``.

Physical plan: two scans → Union → ONE Exchange (hashpartitioning on the
keys) → per-partition Sort → Window → Filter/Project. No cartesian
product, no per-row Python; asserted by tests/test_asof.py's plan audit.

Scale notes: the window partitions by the equality keys, so one key's
full event+history timeline lands in one task — the correct layout while
per-key cardinality is bounded (users, repos, devices). A pathological
hot key is the same skew problem every keyed stateful op here has;
pre-thin the right side (dedupe per (key, ts) — as q_asof_join_events
does). Determinism:
when several right rows share (key, ts), ``tiebreak`` names the column
whose LARGEST value wins; without it a deterministic-but-arbitrary hash
of the payload breaks the tie (never run-to-run flaky, but callers that
need a semantic winner should dedupe or pass ``tiebreak``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

_TS, _TAG, _TIE, _STATE, _LEFT = "_asof_ts", "_asof_tag", "_asof_tie", "_asof_state", "_asof_left"


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: list[str],
    left_ts: str = "ts",
    right_ts: str = "ts",
    direction: str = "backward",
    tolerance: str | int | float | None = None,
    tiebreak: str | None = None,
    prefix: str = "asof_",
) -> DataFrame:
    """Left as-of join: every ``left`` row gains the payload columns of its
    temporally nearest ``right`` row (per ``on`` keys; NULLs when no right
    row qualifies), each prefixed with ``prefix``. The matched right
    timestamp comes along as ``{prefix}{right_ts}``.

    ``tolerance`` bounds how far away the match may be: an SQL interval
    string (``"7 days"``) for timestamp columns, a number for numeric
    time columns. Matches outside it become NULL (the row stays — it is a
    left join), exactly like ``pandas.merge_asof(tolerance=...)``.
    """
    if direction not in ("backward", "forward"):
        raise ValueError(f"direction must be backward|forward, got {direction!r}")
    keys = list(on)
    if right_ts not in right.columns:
        raise ValueError(f"right side lacks timestamp column {right_ts!r}")
    payload_cols = [c for c in right.columns if c not in keys and c != right_ts]
    collisions = [
        f"{prefix}{c}"
        for c in (*payload_cols, right_ts)
        if f"{prefix}{c}" in left.columns
    ]
    if collisions:
        raise ValueError(f"prefixed right columns collide with left: {collisions}")

    state_type = T.StructType([right.schema[c] for c in payload_cols])
    left_type = T.StructType([left.schema[c] for c in left.columns])
    state = F.struct(*[F.col(c) for c in payload_cols])
    if tiebreak:
        if tiebreak not in right.columns:
            raise ValueError(f"right side lacks tiebreak column {tiebreak!r}")
        # keep the caller's type — casting to long would truncate doubles
        # (1.9 vs 1.2 both -> 1) and NULL out strings, silently breaking
        # the documented largest-wins contract for non-integral tiebreaks
        tie, tie_type = F.col(tiebreak), right.schema[tiebreak].dataType
    elif payload_cols:
        tie, tie_type = F.xxhash64(state), T.LongType()
    else:  # payload-less right side: only the matched timestamp is emitted
        tie, tie_type = F.lit(0), T.LongType()
    r = right.select(
        *keys,
        F.col(right_ts).alias(_TS),
        F.lit(0).alias(_TAG),
        tie.alias(_TIE),
        state.alias(_STATE),
        F.lit(None).cast(left_type).alias(_LEFT),
    )
    l = left.select(  # noqa: E741
        *keys,
        F.col(left_ts).alias(_TS),
        F.lit(1).alias(_TAG),
        F.lit(None).cast(tie_type).alias(_TIE),
        F.lit(None).cast(state_type).alias(_STATE),
        F.struct(*[F.col(c) for c in left.columns]).alias(_LEFT),
    )

    asc = direction == "backward"
    order = [
        F.asc(_TS) if asc else F.desc(_TS),
        F.asc(_TAG),  # right rows first at equal ts → inclusive match
        F.asc(_TIE),  # among equal-ts right rows, largest tiebreak wins
    ]
    # among equal-(ts, tag) right rows, last() takes the window-latest —
    # ascending tie order makes the LARGEST tiebreak value win
    w = (
        Window.partitionBy(*keys)
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    matched_ts = F.last(F.when(F.col(_TAG) == 0, F.col(_TS)), ignorenulls=True).over(w)
    matched = F.last(_STATE, ignorenulls=True).over(w)

    if tolerance is not None:
        bound = (
            F.expr(f"INTERVAL {tolerance}")
            if isinstance(tolerance, str)
            else F.lit(tolerance)
        )
        in_range = (
            matched_ts >= F.col(_TS) - bound if asc else matched_ts <= F.col(_TS) + bound
        )
        matched = F.when(in_range, matched)
        matched_ts = F.when(in_range, matched_ts)

    out = (
        l.unionByName(r)
        .select(
            F.col(_LEFT).alias(_LEFT),
            F.col(_TAG).alias(_TAG),
            matched_ts.alias(f"{prefix}{right_ts}"),
            matched.alias(_STATE),
        )
        .filter(F.col(_TAG) == 1)
    )
    return out.select(
        *[F.col(f"{_LEFT}.{c}").alias(c) for c in left.columns],
        F.col(f"{prefix}{right_ts}"),
        *[F.col(f"{_STATE}.{c}").alias(f"{prefix}{c}") for c in payload_cols],
    )
