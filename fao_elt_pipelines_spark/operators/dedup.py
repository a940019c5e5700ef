"""Deduplication operators.

The core CDC operator is last-write-wins (LWW) dedup per key — the engine's
re-expression of the reference's uniqueness contract (dbt ``unique`` test on
the md5 surrogate key, ``/root/reference/dbt_project/models/silver/
schema.yml:7-11``, enforced there only by truncate-and-full-reload,
``/root/reference/ingestion/load_to_database.py:70-83``). Here uniqueness is
enforced algebraically (SURVEY.md §2.5 W2).

Scale notes
-----------
Two physical strategies for LWW, same semantics:

- ``max_by`` (default): ``groupBy(keys).agg(max_by(struct(cols), seq))``.
  Spark runs a *partial* aggregate before the shuffle — each map task
  pre-reduces its local duplicates, and the shuffle carries at most one
  row per (key, map task). At 10^10 events with heavy per-key duplication
  this is the difference between shuffling 10^10 rows and shuffling
  ~|keys|·tasks rows. That shuffle-volume property is the scale win; note
  the struct-valued max buffer is NOT hash-aggregable, so the plan is a
  partial/final SortAggregate pair (see operators/partial_update.py,
  which plan-audits the same shape) — map-side combine still applies.
- ``window``: ``row_number() OVER (PARTITION BY key ORDER BY seq DESC)=1``.
  Needed when *all* event rows per key must be ranked (e.g. keeping top-k
  versions); it sorts within partitions and shuffles every row.

The key ``(repo, path)`` is fine-grained (paths spread hot repos), so even
the window form rarely skews; repo-level skew is spread at MERGE/write time
by bucketing on the full key.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def lww_dedup(
    df: DataFrame,
    keys: Sequence[str] = ("repo", "path"),
    order_col: str = "seq",
    strategy: str = "max_by",
) -> DataFrame:
    """Keep, per key, the single row with the highest ``order_col``.

    ``order_col`` must be unique within a key (commit seq is globally
    unique), so both strategies are deterministic.
    """
    keys = list(keys)
    if strategy == "max_by":
        payload = [c for c in df.columns if c not in keys]
        packed = F.max_by(F.struct(*payload), F.col(order_col)).alias("_win")
        out = df.groupBy(*keys).agg(packed)
        return out.select(*keys, *[F.col(f"_win.{c}").alias(c) for c in payload])
    if strategy == "window":
        w = Window.partitionBy(*keys).orderBy(F.col(order_col).desc())
        return (
            df.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .drop("_rn")
        )
    raise ValueError(f"unknown strategy {strategy!r}")


def first_row(
    df: DataFrame,
    keys: Sequence[str] = ("repo", "path"),
    order_col: str = "seq",
) -> DataFrame:
    """First-write-wins per key — the Paimon ``first-row`` merge engine:
    the EARLIEST event by ``order_col`` is the row, every later change
    event for the key is ignored (dedup-on-ingest for append streams
    where the first sighting is canonical, e.g. crawl frontiers or
    event-sourced creation records). Exactly ``lww_dedup``'s min twin:
    ``min_by(struct(payload), seq)`` hash-aggregate, map-side combined,
    one shuffle — and the same associative monoid across epochs (min of
    mins), so out-of-order epoch folds converge. Delete events are not
    part of the engine's contract (first sighting wins; a later delete is
    'a later change' and is ignored) — callers that need deletion use LWW
    or the partial-update engine instead."""
    keys = list(keys)
    payload = [c for c in df.columns if c not in keys]
    packed = F.min_by(F.struct(*payload), F.col(order_col)).alias("_win")
    out = df.groupBy(*keys).agg(packed)
    return out.select(*keys, *[F.col(f"_win.{c}").alias(c) for c in payload])


def dedup_exact(df: DataFrame, content_col: str = "text", keep_col: str | None = None) -> DataFrame:
    """Exact dedup by content hash: one representative row per distinct
    content — the representative is the row with the smallest ``keep_col``
    (default: first column). Implemented as min_by hash-aggregate on the
    sha256 digest: partial aggregation map-side, one shuffle on the digest.

    NULL content is NOT deduplicated: sha2(NULL) is NULL and a plain
    group-by would collapse every content-less row into one surviving
    representative — distinct documents silently dropped for merely
    lacking text. NULL rows get a per-row key instead (all kept)."""
    keep_col = keep_col or df.columns[0]
    h = F.when(
        F.col(content_col).isNotNull(),
        F.sha2(F.col(content_col).cast("string"), 256),
    ).otherwise(F.concat(F.lit("__null__:"), F.col(keep_col).cast("string")))
    payload = list(df.columns)
    out = (
        df.withColumn("_h", h)
        .groupBy("_h")
        .agg(F.min_by(F.struct(*payload), F.col(keep_col)).alias("_win"))
    )
    return out.select(*[F.col(f"_win.{c}").alias(c) for c in payload])
