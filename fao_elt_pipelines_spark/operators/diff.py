"""Row-level change classification: (before, after) image pairs → change
events.

The single classifier behind every CDC emitter: the lake changelog
(lake/changelog.row_changes, snapshot-to-snapshot, fed by the one-scan
interval image) and, through ``image_diff``, the streaming state store
(streaming/partial_state.PartialStateStore.changes, version-to-version),
the registry's ``cdc_changelog`` and the changelog's full-diff fallback.

Shape: one null-safe struct equality drops no-op keys, one explode
emits update pre+post pairs — no window, no second shuffle.
``image_diff`` pairs two independent images with ONE full-outer equi-join
on the key columns first; the interval path pairs them inside its LWW
aggregate and needs no join at all.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

INSERT = "insert"
DELETE = "delete"
UPDATE_PRE = "update_preimage"
UPDATE_POST = "update_postimage"


def classify_changes(
    pairs: DataFrame, keys: Sequence[str], change_col: str = "_change_type"
) -> DataFrame:
    """Classify image pairs. ``pairs`` = key columns + ``_b`` / ``_a``
    payload structs of one shape, NULL where the key is absent from that
    image. Output = key columns + payload columns + ``change_col``
    (insert / delete / update_preimage / update_postimage); updates emit
    exactly two rows. A key whose two images are equal emits nothing."""
    keys = list(keys)
    payload = pairs.schema["_a"].dataType.fieldNames()
    j = pairs.filter(~F.col("_b").eqNullSafe(F.col("_a")))

    def ev(change_type: str, img: str):
        return F.struct(F.lit(change_type).alias("t"), F.col(img).alias("img"))

    arr = (
        F.when(F.col("_b").isNull(), F.array(ev(INSERT, "_a")))
        .when(F.col("_a").isNull(), F.array(ev(DELETE, "_b")))
        .otherwise(F.array(ev(UPDATE_PRE, "_b"), ev(UPDATE_POST, "_a")))
    )
    return j.select(*keys, F.explode(arr).alias("_c")).select(
        *keys,
        *[F.col(f"_c.img.{c}").alias(c) for c in payload],
        F.col("_c.t").alias(change_col),
    )


def image_diff(
    before: DataFrame,
    after: DataFrame,
    keys: Sequence[str],
    change_col: str = "_change_type",
) -> DataFrame:
    """Diff two independent live images sharing a schema: pair them with
    one full-outer join, then ``classify_changes``. Set semantics, no
    ordering guarantee."""
    keys = list(keys)
    payload = [c for c in after.columns if c not in keys]
    b = before.select(*keys, F.struct(*payload).alias("_b"))
    a = after.select(*keys, F.struct(*payload).alias("_a"))
    return classify_changes(b.join(a, keys, "full_outer"), keys, change_col)
