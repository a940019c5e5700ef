"""SCD Type-2 history build from a CDC binlog.

The classic CDC-warehouse primitive the reference's dbt models approximate
with full-refresh snapshots (every run overwrites the silver tables,
`/root/reference/dbt_project/models/silver/*.sql` — history is lost): turn
a keyed change stream into a *versioned dimension*, one row per distinct
attribute version per key, carrying the validity interval
``[valid_from_seq, valid_to_seq)`` in stream time, an ``is_current`` flag,
and a per-key ``version_num``.

Semantics (per key, events ordered by ``seq_col``):

* every surviving non-delete event OPENS a version at its seq;
* the next surviving event (change OR delete) CLOSES it — ``valid_to_seq``
  is that event's seq, half-open, so versions tile the timeline exactly;
* a delete closes the current version without opening one (deletes never
  appear in the output);
* **change suppression**: a non-delete event whose tracked attributes are
  all null-safe-equal to the immediately preceding event's is a no-op and
  opens nothing — unless the preceding event was a delete, in which case
  it is a genuine re-insert and always opens a version. Comparing against
  the immediate predecessor equals comparing against the last surviving
  version: a suppressed run is by construction attribute-identical to the
  version that survives at its head.

Spark-first shape: everything is windows over ONE hash partitioning on the
keys — lag (suppression), lead (interval close), row_number (version
numbering) all share ``partitionBy(keys)``, so the physical plan carries a
single Exchange and never a single-partition window
(tests/test_scd.py::test_scd2_plan_single_exchange). Per-key timelines
land in one task each — correct at 100 TB while per-key cardinality is
bounded (the same layout contract as operators/asof.py).
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

_PREV = "_scd_prev"
_PREV_OP = "_scd_prev_op"


def scd2_history(
    binlog: DataFrame,
    keys: list[str],
    attrs: list[str],
    seq_col: str = "seq",
    op_col: str = "op",
    delete_op: str = "delete",
    suppress_unchanged: bool = True,
) -> DataFrame:
    """Build the SCD2 version table: ``keys + attrs + valid_from_seq,
    valid_to_seq, is_current, version_num`` (one row per surviving version,
    ``valid_to_seq`` NULL while open)."""
    missing = [c for c in (*keys, *attrs, seq_col, op_col) if c not in binlog.columns]
    if missing:
        raise ValueError(f"binlog lacks columns {missing}")

    w = Window.partitionBy(*keys).orderBy(seq_col)
    is_delete = F.col(op_col) == delete_op

    src = binlog.select(*keys, seq_col, op_col, *attrs)
    if suppress_unchanged:
        lagged = src.withColumn(_PREV, F.lag(F.struct(*attrs)).over(w)).withColumn(
            _PREV_OP, F.lag(op_col).over(w)
        )
        same: Column = reduce(
            lambda a, c: a & F.col(c).eqNullSafe(F.col(f"{_PREV}.{c}")),
            attrs,
            F.lit(True),
        )
        suppressed = (
            ~is_delete
            & F.col(_PREV_OP).isNotNull()
            & (F.col(_PREV_OP) != delete_op)
            & same
        )
        survivors = lagged.filter(~suppressed).drop(_PREV, _PREV_OP)
    else:
        survivors = src

    # lead over survivors INCLUDING deletes: a delete's seq closes the
    # version before it; the delete row itself is dropped after.
    versions = survivors.withColumn("valid_to_seq", F.lead(seq_col).over(w)).filter(
        ~is_delete
    )
    return versions.select(
        *keys,
        *attrs,
        F.col(seq_col).alias("valid_from_seq"),
        "valid_to_seq",
        F.col("valid_to_seq").isNull().alias("is_current"),
        F.row_number()
        .over(Window.partitionBy(*keys).orderBy(seq_col))
        .cast("long")
        .alias("version_num"),
    )


def scd2_as_of(history: DataFrame, seq: int) -> DataFrame:
    """Point-in-time read of an SCD2 table: the version of every key that
    was live just after ``seq`` was applied (half-open intervals, so a
    version closed AT ``seq`` is already gone)."""
    return history.filter(
        (F.col("valid_from_seq") <= seq)
        & (F.col("valid_to_seq").isNull() | (F.col("valid_to_seq") > seq))
    )
