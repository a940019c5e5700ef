"""Query registry: every operator from SURVEY.md §2, expressed twice —

- a Spark DataFrame builder ``(spark, sf_dir) -> DataFrame``
- an ANSI-SQL oracle string DuckDB runs on the same parquet tables

The driver (and tests/test_entry_oracle.py) executes both and compares
row-count + schema + order-insensitive value-hash, so every computed column
is aliased identically on both sides.

Numeric-parity rules (why the decimal casts everywhere):
- SUM of doubles is ORDER-DEPENDENT → never emitted. Monetary columns in
  the testdata are exact 2-decimal values, so ``cast(x as decimal(18,2))``
  is lossless; decimal sums are exact and engine-independent; the final
  ``cast(... as double)`` is a single IEEE-deterministic conversion.
- AVG is emitted as exact-decimal-sum / count (one IEEE division), never
  the engines' own avg (their accumulation orders differ).
- ROUND on doubles is never used for compared values (Spark rounds via
  shortest-string BigDecimal, DuckDB via scaling — they disagree on e.g.
  2.675).

CDC queries derive a binlog from the ``events`` table with dialect-portable
expressions so the DuckDB oracle can re-derive the identical stream — the
engine's real binlog path (binlog.py + lake.replay) is exercised by
tests/test_engine_core.py; these entries prove the *operator semantics*
(LWW window-rank W2, MERGE J1-shape, epoch metrics A8) against SQL.
"""

from __future__ import annotations

import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..operators.rank import global_rank

QuerySpec = tuple[Callable[[SparkSession, str], DataFrame], str | None]

TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


def load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def dec(c, scale: int = 2):
    return F.col(c).cast(f"decimal(18,{scale})") if isinstance(c, str) else c.cast(f"decimal(18,{scale})")


def dsum(c, scale: int = 2):
    """Order-independent exact sum emitted as double (see module doc)."""
    return F.sum(dec(c, scale)).cast("double")


# --------------------------------------------------------------------------
# CDC core: derived binlog over `events` (portable to the DuckDB oracle)
# --------------------------------------------------------------------------

_BINLOG_SQL = """
  SELECT event_id AS seq,
         'repo_' || CAST(user_id % 37 AS VARCHAR) AS repo,
         'src/f_' || CAST(event_id % 211 AS VARCHAR) || '.py' AS path,
         md5('c' || CAST(event_id AS VARCHAR)) AS commit,
         event_type AS lang,
         CASE WHEN event_id % 20 = 19 THEN 'delete'
              WHEN event_id % 3 = 0 THEN 'update'
              ELSE 'insert' END AS op,
         CASE WHEN event_id % 20 = 19 THEN NULL
              ELSE md5('repo_' || CAST(user_id % 37 AS VARCHAR) || '/src/f_'
                       || CAST(event_id % 211 AS VARCHAR) || '.py@'
                       || CAST(event_id AS VARCHAR))
                   || ':' || CAST(event_id % 97 AS VARCHAR) END AS content
  FROM events
"""


def _derived_binlog(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    repo = F.concat(F.lit("repo_"), (F.col("user_id") % 37).cast("string"))
    path = F.concat(F.lit("src/f_"), (F.col("event_id") % 211).cast("string"), F.lit(".py"))
    op = (
        F.when(F.col("event_id") % 20 == 19, F.lit("delete"))
        .when(F.col("event_id") % 3 == 0, F.lit("update"))
        .otherwise(F.lit("insert"))
    )
    content = F.when(F.col("event_id") % 20 == 19, F.lit(None).cast("string")).otherwise(
        F.concat(
            F.md5(F.concat(repo, F.lit("/"), path, F.lit("@"), F.col("event_id").cast("string"))),
            F.lit(":"),
            (F.col("event_id") % 97).cast("string"),
        )
    )
    return ev.select(
        F.col("event_id").alias("seq"),
        repo.alias("repo"),
        path.alias("path"),
        F.md5(F.concat(F.lit("c"), F.col("event_id").cast("string"))).alias("commit"),
        F.col("event_type").alias("lang"),
        op.alias("op"),
        content.alias("content"),
    )


def _lww(df: DataFrame) -> DataFrame:
    # delegate to the REAL operator so the oracle differential exercises
    # it — a private re-implementation here would let the two drift
    # (tie-break, null ordering) with the registry still green
    from ..operators.dedup import lww_dedup

    return lww_dedup(df, keys=("repo", "path"), order_col="seq", strategy="window")


def q_cdc_lww_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W2: LWW dedup per key + delete drop → final state with sha256."""
    win = _lww(_derived_binlog(spark, sf_dir)).filter(F.col("op") != "delete")
    return win.select(
        "repo", "path", "commit", "lang",
        F.sha2(F.col("content"), 256).alias("content_sha256"),
        F.col("seq").alias("last_seq"),
    )


SQL_CDC_LWW_STATE = f"""
WITH binlog AS ({_BINLOG_SQL}),
w AS (
  SELECT *, row_number() OVER (PARTITION BY repo, path ORDER BY seq DESC) AS rn
  FROM binlog
)
SELECT repo, path, commit, lang, sha256(content) AS content_sha256, seq AS last_seq
FROM w WHERE rn = 1 AND op <> 'delete'
"""


def q_cdc_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The MERGE as outer-join-shaped operator (SURVEY §2.3): build base
    state from the first half of the stream, then merge the second half as
    a delta — base rows re-enter as synthetic events at seq=last_seq (the
    monotonicity guard). Algebraically equal to LWW over the full stream,
    which is exactly what the SQL oracle computes — a true differential."""
    binlog = _derived_binlog(spark, sf_dir)
    mid = binlog.agg((F.max("seq") / 2).cast("long")).collect()[0][0]
    base = (
        _lww(binlog.filter(F.col("seq") <= mid))
        .filter(F.col("op") != "delete")
        .select("repo", "path", "commit", "lang", "content", F.col("seq").alias("last_seq"))
    )
    delta = binlog.filter(F.col("seq") > mid)
    base_ev = base.select(
        "repo", "path", "commit", "lang", "content",
        F.col("last_seq").alias("seq"), F.lit("base").alias("op"),
    )
    merged = _lww(base_ev.unionByName(delta.select(*base_ev.columns))).filter(
        F.col("op") != "delete"
    )
    return merged.select(
        "repo", "path", "commit", "lang",
        F.sha2(F.col("content"), 256).alias("content_sha256"),
        F.col("seq").alias("last_seq"),
    )


def q_cdc_cluster_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Physical-lake differential: replay the derived binlog into a REAL
    LakeTable on disk (COW MERGE), z-order-cluster it (lake/zorder.py
    rewrite + per-file bounds), build per-file Bloom sidecars
    (lake/bloom.py), and read back through the stats-AND-bloom-pruned
    ``scan_where`` path. The result is the LWW live state restricted to
    a repo POINT (the bloom-probed predicate) and a path range (the
    min/max-pruned one) — the oracle computes the same algebra purely in
    SQL, so the driver row certifies the write → cluster-rewrite →
    bloom-build → prune → read pipeline end-to-end against an
    independent engine (cdc_lww_state and cdc_merge_upsert prove the
    MERGE *semantics* as pure DataFrame twins; this is the one entry
    where the bytes actually hit table files — the same physical path
    the 1e8/1e9 arms validate outside the driver).

    Deterministic for a given ``sf_dir``: LWW winners are unique (seq is
    unique), the sorted layout and seeded-sample cutpoints are
    deterministic, and scan_where re-applies bounds as row filters, so
    the VALUES are layout-independent even if the file split changed.
    Bounded cost at any sf: keys cap at 37 repos x 211 paths. The table
    dir is rebuilt per call under the system temp dir (authoring
    precedent: source_excel_scan) — rebuilt, not appended, so reruns
    cannot accumulate state; it must outlive the call because the
    returned DataFrame reads it lazily."""
    import hashlib
    import shutil
    import tempfile

    from pyspark.sql import types as T

    from ..lake.table import LakeTable

    state_schema = T.StructType(
        [
            T.StructField("repo", T.StringType()),
            T.StructField("path", T.StringType()),
            T.StructField("commit", T.StringType()),
            T.StructField("lang", T.StringType()),
            T.StructField("content", T.StringType()),
            T.StructField("content_sha256", T.StringType()),
            T.StructField("last_seq", T.LongType()),
        ]
    )
    tag = hashlib.md5(os.path.abspath(sf_dir).encode()).hexdigest()[:10]
    base = os.path.join(tempfile.gettempdir(), f"fao_elt_cluster_scan_{tag}")
    shutil.rmtree(base, ignore_errors=True)
    t = LakeTable.create(spark, base, state_schema, n_buckets=4)
    t.merge_changes(_derived_binlog(spark, sf_dir), epoch_id=0)
    t.cluster(["repo", "path"], bins=32, max_records_per_file=64)
    t.build_blooms(["repo"])
    return t.scan_where(
        {"repo": ("repo_7", "repo_7"), "path": ("src/f_1", "src/f_2")}
    ).select("repo", "path", "commit", "lang", "content_sha256", "last_seq")


SQL_CDC_CLUSTER_SCAN = f"""
WITH binlog AS ({_BINLOG_SQL}),
w AS (
  SELECT *, row_number() OVER (PARTITION BY repo, path ORDER BY seq DESC) AS rn
  FROM binlog
)
SELECT repo, path, commit, lang, sha256(content) AS content_sha256, seq AS last_seq
FROM w
WHERE rn = 1 AND op <> 'delete' AND repo = 'repo_7'
  AND path BETWEEN 'src/f_1' AND 'src/f_2'
"""


def q_cdc_bootstrap_handoff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot-bootstrap → binlog-tail handoff as a differential query —
    the pure-DataFrame twin of lake/bootstrap.py's Debezium-mode initial
    load (every snapshot row enters at ONE log position, the watermark,
    because the snapshot read is consistent as of that position; the tail
    then replays seq > watermark only). Unlike cdc_merge_upsert (whose
    base re-enters at true per-row seqs), rows untouched after the
    watermark surface last_seq = watermark — the oracle computes the same
    handoff algebra independently in SQL, so the mode's exact semantics
    are what's differentially checked."""
    binlog = _derived_binlog(spark, sf_dir)
    wm = int(binlog.agg(F.max("seq")).collect()[0][0]) // 2
    snap_ev = (
        _lww(binlog.filter(F.col("seq") <= wm))
        .filter(F.col("op") != "delete")
        .select(
            "repo", "path", "commit", "lang", "content",
            F.lit(wm).cast("long").alias("seq"),
            F.lit("base").alias("op"),
        )
    )
    tail = binlog.filter(F.col("seq") > wm).select(*snap_ev.columns)
    merged = _lww(snap_ev.unionByName(tail)).filter(F.col("op") != "delete")
    return merged.select(
        "repo", "path", "commit", "lang",
        F.sha2(F.col("content"), 256).alias("content_sha256"),
        F.col("seq").alias("last_seq"),
    )


SQL_CDC_BOOTSTRAP_HANDOFF = f"""
WITH binlog AS ({_BINLOG_SQL}),
wm AS (SELECT max(seq) // 2 AS w FROM binlog),
snap AS (
  SELECT repo, path, commit, lang, content,
         (SELECT w FROM wm) AS seq, 'base' AS op
  FROM (
    SELECT *, row_number() OVER (PARTITION BY repo, path ORDER BY seq DESC) AS rn
    FROM binlog WHERE seq <= (SELECT w FROM wm)
  ) WHERE rn = 1 AND op <> 'delete'
),
allev AS (
  SELECT * FROM snap
  UNION ALL
  SELECT repo, path, commit, lang, content, seq, op
  FROM binlog WHERE seq > (SELECT w FROM wm)
),
w2 AS (
  SELECT *, row_number() OVER (PARTITION BY repo, path ORDER BY seq DESC) AS rn
  FROM allev
)
SELECT repo, path, commit, lang, sha256(content) AS content_sha256, seq AS last_seq
FROM w2 WHERE rn = 1 AND op <> 'delete'
"""


def q_cdc_changelog(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-level changelog between two log positions (CDC *emission* —
    Iceberg ``changes`` / Delta CDF semantics): diff the LWW state at the
    mid-stream watermark against the final state, classifying each
    changed key as insert / delete / update_preimage / update_postimage.
    Runs the production diff operator (operators/diff.image_diff — one
    full-outer join, one struct equality, one explode); the oracle
    re-derives the same stream as four set operations in SQL."""
    from ..operators.diff import image_diff

    b = _derived_binlog(spark, sf_dir)
    wm = int(b.agg(F.max("seq")).collect()[0][0]) // 2

    def state(df: DataFrame) -> DataFrame:
        return (
            _lww(df)
            .filter(F.col("op") != "delete")
            .select(
                "repo", "path", "commit", "lang",
                F.sha2(F.col("content"), 256).alias("content_sha256"),
                F.col("seq").alias("last_seq"),
            )
        )

    ch = image_diff(state(b.filter(F.col("seq") <= wm)), state(b), ("repo", "path"))
    return ch.select(
        "repo", "path", "commit", "lang", "content_sha256", "last_seq",
        F.col("_change_type").alias("change_type"),
    )


SQL_CDC_CHANGELOG = f"""
WITH binlog AS ({_BINLOG_SQL}),
wm AS (SELECT max(seq) // 2 AS w FROM binlog),
b AS (
  SELECT repo, path, commit, lang, sha256(content) AS content_sha256, seq AS last_seq
  FROM (
    SELECT *, row_number() OVER (PARTITION BY repo, path ORDER BY seq DESC) AS rn
    FROM binlog WHERE seq <= (SELECT w FROM wm)
  ) WHERE rn = 1 AND op <> 'delete'
),
a AS (
  SELECT repo, path, commit, lang, sha256(content) AS content_sha256, seq AS last_seq
  FROM (
    SELECT *, row_number() OVER (PARTITION BY repo, path ORDER BY seq DESC) AS rn
    FROM binlog
  ) WHERE rn = 1 AND op <> 'delete'
),
upd AS (
  SELECT b.repo, b.path, b.commit AS b_commit, b.lang AS b_lang,
         b.content_sha256 AS b_sha, b.last_seq AS b_seq,
         a.commit AS a_commit, a.lang AS a_lang,
         a.content_sha256 AS a_sha, a.last_seq AS a_seq
  FROM b JOIN a ON b.repo = a.repo AND b.path = a.path
  WHERE b.last_seq <> a.last_seq OR b.content_sha256 <> a.content_sha256
     OR b.commit <> a.commit OR b.lang <> a.lang
)
SELECT a.repo, a.path, a.commit, a.lang, a.content_sha256, a.last_seq,
       'insert' AS change_type
FROM a LEFT JOIN b ON a.repo = b.repo AND a.path = b.path
WHERE b.last_seq IS NULL
UNION ALL
SELECT b.repo, b.path, b.commit, b.lang, b.content_sha256, b.last_seq,
       'delete' AS change_type
FROM b LEFT JOIN a ON b.repo = a.repo AND b.path = a.path
WHERE a.last_seq IS NULL
UNION ALL
SELECT repo, path, b_commit, b_lang, b_sha, b_seq, 'update_preimage' FROM upd
UNION ALL
SELECT repo, path, a_commit, a_lang, a_sha, a_seq, 'update_postimage' FROM upd
"""


def q_cdc_epoch_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A8: per-epoch metrics — event counts per op, distinct keys, valid
    rate (the engine's metrics-table semantics over a derived epoch)."""
    b = _derived_binlog(spark, sf_dir).withColumn(
        "epoch", ((F.col("seq") - F.col("seq") % 2000) / 2000).cast("long")
    )
    return (
        b.groupBy("epoch")
        .agg(
            F.count("*").alias("events"),
            F.sum(F.when(F.col("op") == "insert", 1).otherwise(0)).alias("n_insert"),
            F.sum(F.when(F.col("op") == "update", 1).otherwise(0)).alias("n_update"),
            F.sum(F.when(F.col("op") == "delete", 1).otherwise(0)).alias("n_delete"),
            F.countDistinct("repo", "path").alias("distinct_keys"),
            (
                F.sum(F.when(F.col("op") != "delete", 1).otherwise(0)) * 100.0
                / F.count("*")
            ).alias("upsert_rate_pct"),
        )
    )


def q_cdc_incremental_gold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental materialized-view maintenance as a differential query —
    the pure-DataFrame twin of lake/mv.py's refresh algebra (which the
    engine runs as a signed-delta fold over the changelog's one-scan
    interval image; see tests/test_mv.py for the lake-backed path).

    Build the per-repo gold aggregate over the first half of the stream,
    then advance it to the full stream by the delta rule
    ``new = old − contrib(before-image) + contrib(after-image)`` over the
    CHANGED KEYS ONLY. The oracle computes the final aggregate by full
    recompute — the incremental path must be algebraically identical,
    including repos fully deleted in the second half (n_paths drops to 0
    and the row leaves the view)."""
    binlog = _derived_binlog(spark, sf_dir)
    mid = binlog.agg((F.max("seq") / 2).cast("long")).collect()[0][0]

    def contrib(state: DataFrame) -> DataFrame:
        # octet_length to match lake/mv.py: total_bytes means bytes
        return state.groupBy("repo").agg(
            F.count("*").alias("n_paths"),
            F.sum(F.octet_length(F.col("content")).cast("long")).alias("total_bytes"),
        )

    state1 = _lww(binlog.filter(F.col("seq") <= mid)).filter(F.col("op") != "delete")
    agg1 = contrib(state1)
    keys = binlog.filter(F.col("seq") > mid).select("repo", "path").distinct()
    before = state1.join(keys, ["repo", "path"], "left_semi")
    after = (
        _lww(binlog).filter(F.col("op") != "delete").join(keys, ["repo", "path"], "left_semi")
    )
    delta = (
        contrib(after)
        .withColumnRenamed("n_paths", "a_n").withColumnRenamed("total_bytes", "a_b")
        .join(
            contrib(before)
            .withColumnRenamed("n_paths", "b_n").withColumnRenamed("total_bytes", "b_b"),
            ["repo"],
            "full_outer",
        )
    )
    z = F.lit(0).cast("long")
    return (
        agg1.join(delta, ["repo"], "full_outer")
        .select(
            "repo",
            (F.coalesce("n_paths", z) + F.coalesce("a_n", z) - F.coalesce("b_n", z)).alias(
                "n_paths"
            ),
            (F.coalesce("total_bytes", z) + F.coalesce("a_b", z) - F.coalesce("b_b", z)).alias(
                "total_bytes"
            ),
        )
        .filter(F.col("n_paths") > 0)
        .orderBy("repo")
    )


SQL_CDC_INCREMENTAL_GOLD = f"""
WITH binlog AS ({_BINLOG_SQL}),
w AS (
  SELECT *, row_number() OVER (PARTITION BY repo, path ORDER BY seq DESC) AS rn
  FROM binlog
)
SELECT repo,
       count(*) AS n_paths,
       CAST(sum(strlen(content)) AS BIGINT) AS total_bytes
FROM w WHERE rn = 1 AND op <> 'delete'
GROUP BY repo
ORDER BY repo
"""


SQL_CDC_EPOCH_METRICS = f"""
WITH binlog AS ({_BINLOG_SQL})
SELECT CAST((seq - seq % 2000) / 2000 AS BIGINT) AS epoch,
       count(*) AS events,
       CAST(sum(CASE WHEN op = 'insert' THEN 1 ELSE 0 END) AS BIGINT) AS n_insert,
       CAST(sum(CASE WHEN op = 'update' THEN 1 ELSE 0 END) AS BIGINT) AS n_update,
       CAST(sum(CASE WHEN op = 'delete' THEN 1 ELSE 0 END) AS BIGINT) AS n_delete,
       count(DISTINCT repo || '|' || path) AS distinct_keys,
       sum(CASE WHEN op <> 'delete' THEN 1 ELSE 0 END) * 100.0 / count(*) AS upsert_rate_pct
FROM binlog GROUP BY 1
"""


# --------------------------------------------------------------------------
# Reference silver/gold re-expression (SURVEY §2.2/2.3/2.4/2.5/2.6/2.7/2.8)
# --------------------------------------------------------------------------


def q_silver_events_cleaned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P1+P2+P4: JSON payload extraction + cast (the reference's
    (data->>'field')::TYPE, silver_prices_cleaned.sql:18-34), null/range
    filter, and boolean quality flag."""
    ev = load(spark, sf_dir, "events")
    k = F.get_json_object(F.col("props"), "$.k").cast("int")
    return (
        ev.select(
            "event_id",
            "event_type",
            k.alias("k_value"),
            F.col("value").alias("metric_value"),
            F.when(F.col("value").isNull() | (F.col("value") <= 0), F.lit(False))
            .otherwise(F.lit(True))
            .alias("is_valid_metric"),
        )
        .filter(F.col("k_value").isNotNull() & (F.col("k_value") >= 10))
    )


SQL_SILVER_EVENTS_CLEANED = """
SELECT event_id, event_type,
       CAST(json_extract_string(props, '$.k') AS INTEGER) AS k_value,
       value AS metric_value,
       CASE WHEN value IS NULL OR value <= 0 THEN FALSE ELSE TRUE END AS is_valid_metric
FROM events
WHERE CAST(json_extract_string(props, '$.k') AS INTEGER) IS NOT NULL
  AND CAST(json_extract_string(props, '$.k') AS INTEGER) >= 10
"""


def q_silver_standardize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P5+F3: CASE value standardization with LIKE (the reference's
    country-name conforming, silver_prices_cleaned.sql:56-62)."""
    n = load(spark, sf_dir, "nation")
    std = (
        F.when(F.col("n_name").like("%KENYA%"), F.lit("KENYA_STD"))
        .when(F.col("n_name") == "UNITED STATES", F.lit("USA"))
        .when(F.col("n_name") == "UNITED KINGDOM", F.lit("UK"))
        .otherwise(F.col("n_name"))
    )
    return n.select(
        "n_nationkey",
        F.col("n_name").alias("nation_name"),
        std.alias("nation_name_standardized"),
        "n_regionkey",
    )


SQL_SILVER_STANDARDIZE = """
SELECT n_nationkey, n_name AS nation_name,
       CASE WHEN n_name LIKE '%KENYA%' THEN 'KENYA_STD'
            WHEN n_name = 'UNITED STATES' THEN 'USA'
            WHEN n_name = 'UNITED KINGDOM' THEN 'UK'
            ELSE n_name END AS nation_name_standardized,
       n_regionkey
FROM nation
"""


def q_silver_surrogate_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F1+F2: the reference's md5 surrogate key macro
    (macros/generate_surrogate_key.sql:4-11): md5 over '-'-joined
    null-guarded casts."""
    li = load(spark, sf_dir, "lineitem")
    parts = [
        F.coalesce(F.col(c).cast("string"), F.lit(""))
        for c in ["l_orderkey", "l_partkey", "l_suppkey", "l_linenumber"]
    ]
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.md5(F.concat_ws("-", *parts)).alias("line_id"),
    )


SQL_SILVER_SURROGATE_KEY = """
SELECT l_orderkey, l_linenumber,
       md5(coalesce(CAST(l_orderkey AS VARCHAR), '') || '-' ||
           coalesce(CAST(l_partkey AS VARCHAR), '') || '-' ||
           coalesce(CAST(l_suppkey AS VARCHAR), '') || '-' ||
           coalesce(CAST(l_linenumber AS VARCHAR), '')) AS line_id
FROM lineitem
"""


def q_silver_unit_convert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P6+P7: unit-conversion CASE and bucketing/classification (the
    reference's '1000 t' → tons and volume tiers)."""
    li = load(spark, sf_dir, "lineitem")
    qty_units = F.when(
        F.col("l_returnflag") == "R", dec("l_quantity") * 1000
    ).otherwise(dec("l_quantity"))
    return li.select(
        "l_orderkey",
        "l_linenumber",
        qty_units.cast("double").alias("quantity_units"),
        F.when(F.col("l_quantity") > 40, F.lit("Large"))
        .when(F.col("l_quantity") > 20, F.lit("Medium"))
        .otherwise(F.lit("Small"))
        .alias("quantity_tier"),
    )


SQL_SILVER_UNIT_CONVERT = """
SELECT l_orderkey, l_linenumber,
       CAST(CASE WHEN l_returnflag = 'R'
                 THEN CAST(l_quantity AS DECIMAL(18,2)) * 1000
                 ELSE CAST(l_quantity AS DECIMAL(18,2)) END AS DOUBLE) AS quantity_units,
       CASE WHEN l_quantity > 40 THEN 'Large'
            WHEN l_quantity > 20 THEN 'Medium'
            ELSE 'Small' END AS quantity_tier
FROM lineitem
"""


def q_gold_top_entities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1+A2+W1+J1: the silver_top_countries pattern — two independent
    per-entity aggregates FULL OUTER joined with COALESCE key resurrection,
    then global RANKs (silver_top_countries.sql:7-51)."""
    from ..caching import release_caches

    release_caches()
    o = load(spark, sf_dir, "orders")
    li = load(spark, sf_dir, "lineitem")
    order_stats = o.groupBy("o_custkey").agg(
        dsum("o_totalprice").alias("total_order_value"),
        F.countDistinct("o_orderkey").alias("order_count"),
        F.max("o_orderdate").alias("latest_order"),
    )
    line_stats = (
        li.join(o.select("o_orderkey", "o_custkey"), li.l_orderkey == o.o_orderkey)
        .groupBy("o_custkey")
        .agg(
            dsum("l_extendedprice").alias("total_line_value"),
            F.countDistinct("l_partkey").alias("part_diversity"),
        )
    )
    joined = order_stats.withColumnRenamed("o_custkey", "ok").join(
        line_stats.withColumnRenamed("o_custkey", "lk"),
        F.col("ok") == F.col("lk"),
        "full_outer",
    )
    merged = joined.select(
        F.coalesce(F.col("ok"), F.col("lk")).alias("custkey"),
        "total_order_value", "order_count", "latest_order",
        "total_line_value", "part_diversity",
    )
    # scale-safe two-phase rank (operators.rank): identical to
    # rank() OVER (ORDER BY ...) but never a single-partition window
    ranked = global_rank(merged, "total_order_value", "value_rank")
    return global_rank(ranked, "part_diversity", "diversity_rank")


SQL_GOLD_TOP_ENTITIES = """
WITH order_stats AS (
  SELECT o_custkey, CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_order_value,
         count(DISTINCT o_orderkey) AS order_count, max(o_orderdate) AS latest_order
  FROM orders GROUP BY o_custkey
), line_stats AS (
  SELECT o_custkey, CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS total_line_value,
         count(DISTINCT l_partkey) AS part_diversity
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
  GROUP BY o_custkey
)
SELECT coalesce(os.o_custkey, ls.o_custkey) AS custkey,
       os.total_order_value, os.order_count, os.latest_order,
       ls.total_line_value, ls.part_diversity,
       rank() OVER (ORDER BY os.total_order_value DESC NULLS LAST) AS value_rank,
       rank() OVER (ORDER BY ls.part_diversity DESC NULLS LAST) AS diversity_rank
FROM order_stats os FULL OUTER JOIN line_stats ls ON os.o_custkey = ls.o_custkey
"""


def q_gold_two_level_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A4: agg-of-agg — per (customer, year) totals re-aggregated to
    customer level (gold_country_metrics.sql:34-63)."""
    o = load(spark, sf_dir, "orders")
    annual = o.groupBy("o_custkey", F.year("o_orderdate").alias("order_year")).agg(
        F.sum(dec("o_totalprice")).alias("annual_value_dec"),
        F.count("*").alias("annual_orders"),
    )
    return annual.groupBy("o_custkey").agg(
        F.sum("annual_value_dec").cast("double").alias("total_value"),
        (F.sum("annual_value_dec").cast("double") / F.count("*")).alias("avg_annual_value"),
        F.max("annual_value_dec").cast("double").alias("peak_annual_value"),
        F.countDistinct("order_year").alias("active_years"),
        F.min("order_year").alias("first_year"),
        F.max("order_year").alias("last_year"),
    )


SQL_GOLD_TWO_LEVEL_AGG = """
WITH annual AS (
  SELECT o_custkey, year(o_orderdate) AS order_year,
         sum(CAST(o_totalprice AS DECIMAL(18,2))) AS annual_value_dec,
         count(*) AS annual_orders
  FROM orders GROUP BY 1, 2
)
SELECT o_custkey,
       CAST(sum(annual_value_dec) AS DOUBLE) AS total_value,
       CAST(sum(annual_value_dec) AS DOUBLE) / count(*) AS avg_annual_value,
       CAST(max(annual_value_dec) AS DOUBLE) AS peak_annual_value,
       count(DISTINCT order_year) AS active_years,
       min(order_year) AS first_year,
       max(order_year) AS last_year
FROM annual GROUP BY o_custkey
"""


def q_gold_conditional_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A5: pivoted window-in-time — recent-era avg minus early-era avg per
    group (gold_country_metrics.sql:44-45), emitted as exact-decimal sums
    over counts to stay engine-independent."""
    o = load(spark, sf_dir, "orders")
    yr = F.year("o_orderdate")
    recent_sum = F.sum(F.when(yr >= 1999, dec("o_totalprice"))).cast("double")
    recent_n = F.sum(F.when(yr >= 1999, 1).otherwise(0))
    early_sum = F.sum(F.when(yr <= 1996, dec("o_totalprice"))).cast("double")
    early_n = F.sum(F.when(yr <= 1996, 1).otherwise(0))
    return (
        o.groupBy("o_orderpriority")
        .agg(
            (recent_sum / F.nullif(recent_n, F.lit(0))).alias("avg_recent"),
            (early_sum / F.nullif(early_n, F.lit(0))).alias("avg_early"),
            (
                recent_sum / F.nullif(recent_n, F.lit(0))
                - early_sum / F.nullif(early_n, F.lit(0))
            ).alias("value_change"),
        )
    )


SQL_GOLD_CONDITIONAL_AGG = """
SELECT o_orderpriority,
       CAST(sum(CASE WHEN year(o_orderdate) >= 1999 THEN CAST(o_totalprice AS DECIMAL(18,2)) END) AS DOUBLE)
         / nullif(sum(CASE WHEN year(o_orderdate) >= 1999 THEN 1 ELSE 0 END), 0) AS avg_recent,
       CAST(sum(CASE WHEN year(o_orderdate) <= 1996 THEN CAST(o_totalprice AS DECIMAL(18,2)) END) AS DOUBLE)
         / nullif(sum(CASE WHEN year(o_orderdate) <= 1996 THEN 1 ELSE 0 END), 0) AS avg_early,
       CAST(sum(CASE WHEN year(o_orderdate) >= 1999 THEN CAST(o_totalprice AS DECIMAL(18,2)) END) AS DOUBLE)
         / nullif(sum(CASE WHEN year(o_orderdate) >= 1999 THEN 1 ELSE 0 END), 0)
       - CAST(sum(CASE WHEN year(o_orderdate) <= 1996 THEN CAST(o_totalprice AS DECIMAL(18,2)) END) AS DOUBLE)
         / nullif(sum(CASE WHEN year(o_orderdate) <= 1996 THEN 1 ELSE 0 END), 0) AS value_change
FROM orders GROUP BY o_orderpriority
"""


def q_gold_having(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A6: multi-measure agg + HAVING on a count-distinct
    (gold_price_production_analysis.sql:56-90)."""
    li = load(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_partkey")
        .agg(
            dsum("l_quantity").alias("total_qty"),
            dsum("l_extendedprice").alias("total_value"),
            F.countDistinct("l_suppkey").alias("supplier_count"),
            F.max(dec("l_extendedprice")).cast("double").alias("max_price"),
            F.min(dec("l_extendedprice")).cast("double").alias("min_price"),
            (F.max(dec("l_extendedprice")) - F.min(dec("l_extendedprice")))
            .cast("double")
            .alias("price_spread"),
        )
        .filter(F.col("supplier_count") >= 3)
    )


SQL_GOLD_HAVING = """
SELECT l_partkey,
       CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS total_qty,
       CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS total_value,
       count(DISTINCT l_suppkey) AS supplier_count,
       CAST(max(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS max_price,
       CAST(min(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS min_price,
       CAST(max(CAST(l_extendedprice AS DECIMAL(18,2))) - min(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS price_spread
FROM lineitem
GROUP BY l_partkey
HAVING count(DISTINCT l_suppkey) >= 3
"""


def q_gold_region_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A7+P8+J5: dim enrichment via broadcast joins (nation/region are the
    tiny dims) then region-level rollup (gold_regional_summary.sql)."""
    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer")
    n = load(spark, sf_dir, "nation")
    r = load(spark, sf_dir, "region")
    enriched = (
        o.join(F.broadcast(c.select("c_custkey", "c_nationkey")), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n.select("n_nationkey", "n_name", "n_regionkey")), F.col("c_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(r), F.col("n_regionkey") == F.col("r_regionkey"))
    )
    return (
        enriched.groupBy(F.col("r_name").alias("region"), F.year("o_orderdate").alias("order_year"))
        .agg(
            dsum("o_totalprice").alias("total_value"),
            F.countDistinct("n_name").alias("nations_active"),
            F.countDistinct("o_custkey").alias("customers_active"),
            F.count("*").alias("order_count"),
        )
    )


SQL_GOLD_REGION_ROLLUP = """
SELECT r_name AS region, year(o_orderdate) AS order_year,
       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_value,
       count(DISTINCT n_name) AS nations_active,
       count(DISTINCT o_custkey) AS customers_active,
       count(*) AS order_count
FROM orders
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
GROUP BY 1, 2
"""


def q_left_join_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J4: LEFT OUTER enrichment keeping unmatched left rows
    (gold_country_metrics.sql:57-61)."""
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders")
    stats = o.groupBy("o_custkey").agg(
        F.count("*").alias("order_count"), dsum("o_totalprice").alias("total_value")
    )
    return c.join(stats, c.c_custkey == stats.o_custkey, "left").select(
        "c_custkey", "c_name", "c_mktsegment",
        F.coalesce(F.col("order_count"), F.lit(0)).alias("order_count"),
        F.coalesce(F.col("total_value"), F.lit(0.0)).alias("total_value"),
    )


SQL_LEFT_JOIN_ENRICH = """
SELECT c_custkey, c_name, c_mktsegment,
       coalesce(s.order_count, 0) AS order_count,
       coalesce(s.total_value, 0.0) AS total_value
FROM customer
LEFT JOIN (
  SELECT o_custkey, count(*) AS order_count,
         CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_value
  FROM orders GROUP BY o_custkey
) s ON c_custkey = s.o_custkey
"""


def q_anti_join_required(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J7/U3: the dbt singular test as an operator — required members
    absent from the data (test passes iff 0 rows)
    (dbt_project/tests/test_data_quality.sql:4-16)."""
    required = spark.createDataFrame(
        [("AFRICA",), ("AMERICA",), ("ASIA",), ("EUROPE",), ("ATLANTIS",)],
        ["required_region"],
    )
    r = load(spark, sf_dir, "region")
    return required.join(
        r, required.required_region == r.r_name, "left_anti"
    ).select("required_region")


SQL_ANTI_JOIN_REQUIRED = """
WITH required(required_region) AS (
  VALUES ('AFRICA'), ('AMERICA'), ('ASIA'), ('EUROPE'), ('ATLANTIS')
)
SELECT required_region FROM required
WHERE required_region NOT IN (SELECT r_name FROM region)
"""


def q_gold_string_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A10: ordered string aggregation
    (sql/sample_queries.sql:134 STRING_AGG ... ORDER BY)."""
    n = load(spark, sf_dir, "nation")
    r = load(spark, sf_dir, "region")
    return (
        n.join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy(F.col("r_name").alias("region"))
        .agg(
            F.array_join(F.array_sort(F.collect_list("n_name")), ", ").alias("nations"),
            F.count("*").alias("nation_count"),
        )
    )


SQL_GOLD_STRING_AGG = """
SELECT r_name AS region,
       string_agg(n_name, ', ' ORDER BY n_name) AS nations,
       count(*) AS nation_count
FROM nation JOIN region ON n_regionkey = r_regionkey
GROUP BY r_name
"""


def q_topk_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O2: ORDER BY + LIMIT top-k (TakeOrderedAndProject). Tie-broken by
    the unique key so the k-set is total-order deterministic."""
    o = load(spark, sf_dir, "orders")
    return (
        o.orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
        .limit(10)
        .select("o_orderkey", "o_custkey", "o_totalprice", "o_orderpriority")
    )


SQL_TOPK_ORDERS = """
SELECT o_orderkey, o_custkey, o_totalprice, o_orderpriority
FROM orders ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 10
"""


def q_union_projections(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U1: UNION (distinct) of key projections from two tables
    (gold_regional_summary.sql:33-39)."""
    c = load(spark, sf_dir, "customer")
    s = load(spark, sf_dir, "supplier")
    return (
        c.select(F.col("c_nationkey").alias("nationkey"))
        .union(s.select(F.col("s_nationkey").alias("nationkey")))
        .distinct()
    )


SQL_UNION_PROJECTIONS = """
SELECT c_nationkey AS nationkey FROM customer
UNION
SELECT s_nationkey AS nationkey FROM supplier
"""


def q_case_custom_sort(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O4+P7: CASE-driven classification with custom sort rank emitted as a
    column (sort itself is order-insensitive to the hash, the rank is the
    checkable part) (sql/sample_queries.sql:123-142)."""
    o = load(spark, sf_dir, "orders")
    agg = o.groupBy("o_orderpriority").agg(dsum("o_totalprice").alias("total_value"))
    tier = (
        F.when(F.col("total_value") > 1_000_000, F.lit("High Volume"))
        .when(F.col("total_value") > 100_000, F.lit("Medium Volume"))
        .otherwise(F.lit("Low Volume"))
    )
    sort_rank = (
        F.when(tier == "High Volume", 1).when(tier == "Medium Volume", 2).otherwise(3)
    )
    return agg.select(
        "o_orderpriority", "total_value", tier.alias("volume_tier"), sort_rank.alias("sort_rank")
    )


SQL_CASE_CUSTOM_SORT = """
WITH agg AS (
  SELECT o_orderpriority,
         CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_value
  FROM orders GROUP BY o_orderpriority
)
SELECT o_orderpriority, total_value,
       CASE WHEN total_value > 1000000 THEN 'High Volume'
            WHEN total_value > 100000 THEN 'Medium Volume'
            ELSE 'Low Volume' END AS volume_tier,
       CASE WHEN total_value > 1000000 THEN 1
            WHEN total_value > 100000 THEN 2
            ELSE 3 END AS sort_rank
FROM agg
"""


def q_gold_formatted_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F9 — TO_CHAR-style presentation formatting (reference
    sql/sample_queries.sql:60-97: ``TO_CHAR(x, 'FM999,999,999')``,
    ``'FM$999,999.99'``, and the ``↑/↓ || TO_CHAR(ABS(growth))`` trend
    arrows). Spark's ``format_number`` (Java DecimalFormat, JVM codegen)
    is the grouped-format twin; amounts are exact DECIMAL(18,2) sums so
    formatting never rounds (module numeric-parity rules apply)."""
    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    n = load(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    yr = F.year("o_orderdate")
    zero = F.lit("0").cast("decimal(18,2)")
    agg = (
        o.join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.sum(dec("o_totalprice")).alias("_total"),
            F.coalesce(F.sum(F.when(yr >= 1998, dec("o_totalprice"))), zero).alias("_recent"),
            F.coalesce(F.sum(F.when(yr <= 1995, dec("o_totalprice"))), zero).alias("_early"),
        )
    )
    diff = F.col("_recent") - F.col("_early")
    grp_int = lambda col: F.format_number(F.floor(col).cast("bigint"), 0)  # noqa: E731
    return agg.select(
        "n_name",
        grp_int(F.col("_total")).alias("total_value_fmt"),
        F.concat(F.lit("$"), F.format_number(F.col("_total"), 2)).alias("total_value_usd"),
        F.when(diff > 0, F.concat(F.lit("↑ "), grp_int(F.abs(diff))))
        .when(diff < 0, F.concat(F.lit("↓ "), grp_int(F.abs(diff))))
        .otherwise(F.lit("→ 0"))
        .alias("trend_fmt"),
    ).orderBy("n_name")


# DuckDB's fmt rejects thousands separators on floats, so the grouped
# 2-decimal string is assembled from exact integer parts of the
# DECIMAL(_,2) — bit-identical to Spark's DecimalFormat output (no
# rounding happens on either side: the value already has 2 decimals).
SQL_GOLD_FORMATTED_REPORT = """
WITH per AS (
  SELECT n_name,
         sum(CAST(o_totalprice AS DECIMAL(18,2))) AS total_dec,
         coalesce(sum(CASE WHEN year(o_orderdate) >= 1998
                           THEN CAST(o_totalprice AS DECIMAL(18,2)) END),
                  0) AS recent_dec,
         coalesce(sum(CASE WHEN year(o_orderdate) <= 1995
                           THEN CAST(o_totalprice AS DECIMAL(18,2)) END),
                  0) AS early_dec
  FROM orders
  JOIN customer ON o_custkey = c_custkey
  JOIN nation ON c_nationkey = n_nationkey
  GROUP BY n_name
)
SELECT n_name,
       format('{:,}', CAST(floor(total_dec) AS BIGINT)) AS total_value_fmt,
       '$' || CASE WHEN total_dec < 0 THEN '-' ELSE '' END
           || format('{:,}', CAST(floor(abs(total_dec)) AS BIGINT)) || '.'
           || lpad(CAST(CAST((abs(total_dec) - floor(abs(total_dec))) * 100
                             AS BIGINT) AS VARCHAR), 2, '0') AS total_value_usd,
       CASE WHEN recent_dec - early_dec > 0
              THEN '↑ ' || format('{:,}', CAST(floor(abs(recent_dec - early_dec)) AS BIGINT))
            WHEN recent_dec - early_dec < 0
              THEN '↓ ' || format('{:,}', CAST(floor(abs(recent_dec - early_dec)) AS BIGINT))
            ELSE '→ 0' END AS trend_fmt
FROM per
ORDER BY n_name
"""


def q_source_excel_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S6 — chunked Excel scan (reference file_client.py:259-285 Excel
    branch; sheet inference :120-125). A bounded 200-row projection of
    ``documents`` round-trips through a real .xlsx (stdlib SpreadsheetML
    writer/reader, sources/excel.py) in 64-row chunks, proving the S6
    path end-to-end against the same DuckDB oracle as every other
    source. The 200-row driver collect is the workbook AUTHORING step
    (constant-bounded, like the reference's sample read), not a
    data-path collect; the fleet-scale read is read_excel_distributed."""
    import hashlib
    import tempfile

    from ..sources.excel import read_excel_chunked, write_xlsx

    # One workbook per (process, sf_dir), reused across invocations —
    # write_xlsx is byte-deterministic, and bench/docs runs call this
    # builder repeatedly; a fresh mkdtemp per call would strand a temp
    # dir each time.
    path = os.path.join(
        tempfile.gettempdir(),
        f"s6_xlsx_{os.getpid()}_{hashlib.sha256(sf_dir.encode()).hexdigest()[:12]}.xlsx",
    )
    if not os.path.exists(path):
        src = (
            load(spark, sf_dir, "documents")
            .select("doc_id", "lang", F.length("text").alias("text_len"))
            .orderBy("doc_id")
            .limit(200)
        )
        rows = [[r.doc_id, r.lang, r.text_len] for r in src.collect()]
        # write-then-rename: a run killed mid-write must not leave a
        # truncated workbook at the cached path for a later process (pids
        # recycle) to treat as complete. Staleness note: the cache key has
        # no content fingerprint — regenerating the parquet IN-PLACE at
        # the same sf_dir within one machine/pid lifetime would serve the
        # old workbook; fixture dirs are immutable by contract (TESTDATA.md)
        write_xlsx(path + ".tmp", ["doc_id", "lang", "text_len"], rows)
        os.replace(path + ".tmp", path)
    out = read_excel_chunked(spark, path, chunk_size=64)
    return out.select(
        F.col("doc_id").cast("bigint").alias("doc_id"),
        F.col("lang").cast("string").alias("lang"),
        F.col("text_len").cast("bigint").alias("text_len"),
    )


SQL_SOURCE_EXCEL_SCAN = """
SELECT doc_id, lang, CAST(length(text) AS BIGINT) AS text_len
FROM documents
ORDER BY doc_id
LIMIT 200
"""


# --------------------------------------------------------------------------
# Registry
# --------------------------------------------------------------------------

def q_windowed_event_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-time tumbling-window aggregation (the batch twin of the
    streaming metrics feed, streaming/stream_replay.windowed_op_counts):
    1-hour windows per event_type, count + decimal-exact value sum.
    ``F.window`` aligns buckets to the epoch origin, matching DuckDB's
    ``time_bucket`` bit-for-bit under the UTC session timezone."""
    ev = load(spark, sf_dir, "events")
    w = F.window("ts", "1 hour")
    return (
        ev.groupBy(w.alias("win"), "event_type")
        .agg(F.count("*").alias("events"), dsum("value").alias("total_value"))
        .select(
            F.col("win.start").alias("window_start"),
            F.col("win.end").alias("window_end"),
            "event_type",
            "events",
            "total_value",
        )
    )


SQL_WINDOWED_EVENT_COUNTS = """
SELECT time_bucket(INTERVAL '1 hour', ts) AS window_start,
       time_bucket(INTERVAL '1 hour', ts) + INTERVAL '1 hour' AS window_end,
       event_type,
       count(*) AS events,
       CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
FROM events
GROUP BY 1, 2, 3
"""


def q_sliding_window_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding event-time windows (1 hour, sliding every 30 minutes):
    every event lands in exactly two windows. The DuckDB oracle rebuilds
    the same assignment by unnesting the two 30-minute-grid starts that
    cover each timestamp."""
    ev = load(spark, sf_dir, "events")
    w = F.window("ts", "1 hour", "30 minutes")
    return (
        ev.groupBy(w.alias("win"))
        .agg(F.count("*").alias("events"), dsum("value").alias("total_value"))
        .select(
            F.col("win.start").alias("window_start"),
            F.col("win.end").alias("window_end"),
            "events",
            "total_value",
        )
    )


SQL_SLIDING_WINDOW_COUNTS = """
WITH assigned AS (
  SELECT unnest([time_bucket(INTERVAL '30 minutes', ts),
                 time_bucket(INTERVAL '30 minutes', ts) - INTERVAL '30 minutes'])
           AS window_start,
         value
  FROM events
)
SELECT window_start,
       window_start + INTERVAL '1 hour' AS window_end,
       count(*) AS events,
       CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
FROM assigned
GROUP BY 1, 2
"""


def q_session_window_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session windows per user (30-minute inactivity gap): Spark's
    ``session_window`` in batch mode; the oracle rebuilds identical
    sessions with the classic gaps-and-islands window-function pattern
    (lag → new-session flag → running sum → group). Window end is
    last-event + gap, matching Spark's batch semantics."""
    ev = load(spark, sf_dir, "events")
    sw = F.session_window("ts", "30 minutes")
    return (
        ev.groupBy(sw.alias("win"), "user_id")
        .agg(F.count("*").alias("events"))
        .select(
            "user_id",
            F.col("win.start").alias("session_start"),
            F.col("win.end").alias("session_end"),
            "events",
        )
    )


SQL_SESSION_WINDOW_COUNTS = """
WITH flagged AS (
  SELECT user_id, ts,
         CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
                   > INTERVAL '30 minutes'
              OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
              THEN 1 ELSE 0 END AS new_session
  FROM events
),
islands AS (
  SELECT user_id, ts,
         sum(new_session) OVER (PARTITION BY user_id ORDER BY ts
                                ROWS UNBOUNDED PRECEDING) AS session_id
  FROM flagged
)
SELECT user_id,
       min(ts) AS session_start,
       max(ts) + INTERVAL '30 minutes' AS session_end,
       count(*) AS events
FROM islands
GROUP BY user_id, session_id
"""


def q_cdc_quarantine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dead-letter classification (lake.quarantine): the derived binlog is
    well-formed by construction, so malformations are injected
    deterministically per event id — null path, null seq, protocol-unknown
    op, payload-less upsert — mirroring text_redact_pii's injection
    pattern. The reason column comes from the ENGINE's own classifier
    (``malformed_reason``), so the oracle differentially checks the exact
    whole-stage-codegen CASE that ``replay(quarantine_dir=...)`` splits on,
    including its reason precedence (key > seq > op > payload)."""
    from ..lake.quarantine import malformed_reason

    b = _derived_binlog(spark, sf_dir)
    inj = b.select(
        F.col("seq").alias("event_id"),
        F.col("repo"),
        F.when(F.col("seq") % 41 == 7, F.lit(None).cast("string"))
        .otherwise(F.col("path"))
        .alias("path"),
        F.when(F.col("seq") % 53 == 17, F.lit(None).cast("long"))
        .otherwise(F.col("seq"))
        .alias("seq"),
        F.when(F.col("seq") % 43 == 11, F.lit("noop")).otherwise(F.col("op")).alias("op"),
        F.when((F.col("seq") % 59 == 23) & (F.col("op") != "delete"), F.lit(None).cast("string"))
        .otherwise(F.col("content"))
        .alias("content"),
    )
    tagged = inj.withColumn("reason", malformed_reason())
    return tagged.filter(F.col("reason").isNotNull()).select(
        "event_id", "repo", "op", "reason"
    )


SQL_CDC_QUARANTINE = f"""
WITH binlog AS ({_BINLOG_SQL}),
inj AS (
  SELECT seq AS event_id,
         repo,
         CASE WHEN seq % 41 = 7 THEN NULL ELSE path END AS path,
         CASE WHEN seq % 53 = 17 THEN NULL ELSE seq END AS seq_inj,
         CASE WHEN seq % 43 = 11 THEN 'noop' ELSE op END AS op,
         CASE WHEN seq % 59 = 23 AND op <> 'delete' THEN NULL ELSE content END AS content
  FROM binlog
),
tagged AS (
  SELECT event_id, repo, op,
         CASE WHEN repo IS NULL OR repo = '' OR path IS NULL OR path = '' THEN 'null_key'
              WHEN seq_inj IS NULL THEN 'null_seq'
              WHEN op IS NULL
                   OR op NOT IN ('insert','update','upsert','delete','base') THEN 'unknown_op'
              WHEN op <> 'delete' AND content IS NULL THEN 'null_content'
         END AS reason
  FROM inj
)
SELECT event_id, repo, op, reason FROM tagged WHERE reason IS NOT NULL
"""


# --------------------------------------------------------------------------
# Column-level merge engines (operators/partial_update.py): a patch-shaped
# binlog where change events may carry only the columns that changed
# --------------------------------------------------------------------------

_PATCH_BINLOG_SQL = """
  SELECT event_id AS seq,
         'repo_' || CAST(user_id % 37 AS VARCHAR) AS repo,
         'src/f_' || CAST(event_id % 211 AS VARCHAR) || '.py' AS path,
         CASE WHEN event_id % 20 = 19 THEN 'delete'
              WHEN event_id % 5 = 0 THEN 'insert'
              ELSE 'patch' END AS op,
         CASE WHEN event_id % 20 = 19 THEN NULL
              WHEN event_id % 5 = 0 OR event_id % 4 IN (0, 3)
                THEN md5('c' || CAST(event_id AS VARCHAR)) END AS commit,
         CASE WHEN event_id % 20 = 19 THEN NULL
              WHEN event_id % 5 = 0 AND event_id % 10 = 5 THEN NULL
              WHEN event_id % 5 = 0 OR event_id % 4 = 1 THEN event_type END AS lang,
         CASE WHEN event_id % 20 = 19 THEN NULL
              WHEN event_id % 5 = 0 OR event_id % 4 IN (2, 3)
                THEN md5('repo_' || CAST(user_id % 37 AS VARCHAR) || '/src/f_'
                         || CAST(event_id % 211 AS VARCHAR) || '.py@'
                         || CAST(event_id AS VARCHAR))
                     || ':' || CAST(event_id % 97 AS VARCHAR) END AS content
  FROM events
"""


def _derived_patch_binlog(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Patch-shaped CDC stream derived from ``events`` (portable twin of
    ``_PATCH_BINLOG_SQL``): inserts carry full rows (every 5th event; every
    10th-ending-in-5 insert carries a NULL lang, exercising upsert-clears),
    deletes carry nothing, and patches carry an event_id%4-chosen non-null
    subset of {commit, lang, content} — the Mongo/Cassandra-style partial
    change event row-level LWW cannot merge correctly."""
    ev = load(spark, sf_dir, "events")
    eid = F.col("event_id")
    repo = F.concat(F.lit("repo_"), (F.col("user_id") % 37).cast("string"))
    path = F.concat(F.lit("src/f_"), (eid % 211).cast("string"), F.lit(".py"))
    is_del, is_ins = eid % 20 == 19, eid % 5 == 0
    commit_full = F.md5(F.concat(F.lit("c"), eid.cast("string")))
    content_full = F.concat(
        F.md5(F.concat(repo, F.lit("/"), path, F.lit("@"), eid.cast("string"))),
        F.lit(":"),
        (eid % 97).cast("string"),
    )
    null_s = F.lit(None).cast("string")
    return ev.select(
        eid.alias("seq"),
        repo.alias("repo"),
        path.alias("path"),
        F.when(is_del, F.lit("delete")).when(is_ins, F.lit("insert")).otherwise(F.lit("patch")).alias("op"),
        F.when(is_del, null_s)
        .when(is_ins | (eid % 4).isin(0, 3), commit_full)
        .alias("commit"),
        F.when(is_del | (is_ins & (eid % 10 == 5)), null_s)
        .when(is_ins | (eid % 4 == 1), F.col("event_type"))
        .alias("lang"),
        F.when(is_del, null_s)
        .when(is_ins | (eid % 4).isin(2, 3), content_full)
        .alias("content"),
    )


def _partial_vis_cols():
    return [
        "repo",
        "path",
        "commit",
        "lang",
        F.sha2(F.col("content"), 256).alias("content_sha256"),
        "last_seq",
    ]


def q_cdc_partial_update(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partial-update merge engine, one-shot fold (SURVEY §2.9 merge family;
    Paimon's ``partial-update``): final per-key state where each column holds
    its last-set value by seq, upserts/deletes reset, patches touch only
    their non-null columns. One single-shuffle aggregate — map-side
    combined, no window — over the patch binlog; the oracle recomputes the
    same algebra with per-column filtered arg_max in DuckDB."""
    from ..operators.partial_update import partial_update_state

    st = partial_update_state(_derived_patch_binlog(spark, sf_dir), reset_ops=("insert",))
    return st.select(*_partial_vis_cols())


def q_cdc_partial_update_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The same engine exercised as the MONOID it is: fold the stream's two
    halves independently (epoch-shaped), merge the mergeable states with the
    associative struct-max ``+``, then project visible rows. Equal by
    construction to the one-shot fold — which is exactly what the shared
    oracle checks differentially (the cross-batch analogue of
    cdc_merge_upsert ≡ LWW)."""
    from ..operators.partial_update import fold_partial, merge_partial_states, visible_partial

    b = _derived_patch_binlog(spark, sf_dir)
    mid = b.agg((F.max("seq") / 2).cast("long")).collect()[0][0]
    s1 = fold_partial(b.filter(F.col("seq") <= mid), reset_ops=("insert",))
    s2 = fold_partial(b.filter(F.col("seq") > mid), reset_ops=("insert",))
    merged = merge_partial_states(s1, s2)
    return visible_partial(merged).select(*_partial_vis_cols())


def partial_update_oracle_sql(stream_sql: str, final_select: str) -> str:
    """The partial-update algebra in DuckDB SQL, parameterized by the
    change-stream CTE so every harness checking this engine (the registry
    oracle here, bench/partial_scale.py's 10^8 validation) runs the SAME
    oracle text and cannot drift. ``final_select`` projects the visible
    state columns (repo, path, commit, lang, content, last_seq are in
    scope)."""
    return f"""
WITH b AS ({stream_sql}),
r AS (
  SELECT repo, path, max(seq) AS rseq, arg_max(op, seq) = 'delete' AS rdel
  FROM b WHERE op IN ('insert', 'delete') GROUP BY repo, path
),
s AS (
  SELECT b.repo, b.path,
         max(b.seq) AS last_seq,
         arg_max(b.commit, b.seq) FILTER (WHERE b.op <> 'delete' AND b.commit IS NOT NULL
           AND b.seq >= coalesce(r.rseq, -1)) AS commit,
         arg_max(b.lang, b.seq) FILTER (WHERE b.op <> 'delete' AND b.lang IS NOT NULL
           AND b.seq >= coalesce(r.rseq, -1)) AS lang,
         arg_max(b.content, b.seq) FILTER (WHERE b.op <> 'delete' AND b.content IS NOT NULL
           AND b.seq >= coalesce(r.rseq, -1)) AS content,
         bool_or(b.op = 'patch' AND b.seq > coalesce(r.rseq, -1)) AS patch_after,
         bool_or(r.rdel) AS rdel
  FROM b LEFT JOIN r USING (repo, path)
  GROUP BY b.repo, b.path
)
SELECT {final_select}
FROM s WHERE coalesce(NOT rdel, TRUE) OR patch_after
"""


SQL_CDC_PARTIAL_UPDATE = partial_update_oracle_sql(
    _PATCH_BINLOG_SQL,
    "repo, path, commit, lang, sha256(content) AS content_sha256, last_seq",
)


def q_cdc_partial_update_seqgroup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence-groups (Paimon partial-update ``sequence-group``): columns
    owned by different upstream systems carry independent ordering clocks
    — here ``lang`` is ordered by a second clock ``seq2`` (a bijective
    permutation of seq, so group winners genuinely differ from primary
    winners) while commit/content follow the primary seq. Valid on
    append+patch streams (the operator rejects resets under groups); the
    oracle applies per-column arg_max under each column's own clock.
    ``seq2 = (seq * 7919) % 100003`` is a bijection because 100003 is
    prime and every testdata seq < 100003 — guarded by an in-plan
    ``assert_true`` (codegen, zero extra scans: building the query stays
    metadata-only) so a dataset-size change fails loudly at execution
    instead of flaking on seq2 collisions (Spark's struct-max vs DuckDB's
    arg_max break ties differently)."""
    ev = load(spark, sf_dir, "events")
    eid = F.col("event_id")
    # NOTE the idiom: when(cond, true).otherwise(raise_error) AS the filter
    # predicate — an assert_true OR'd with a tautology gets constant-folded
    # out by Catalyst (verified empirically), silently removing the guard
    ev = ev.filter(
        F.when(eid < 100003, F.lit(True)).otherwise(
            F.raise_error(
                F.concat(
                    F.lit("seq2 bijection requires event_id < 100003, got "),
                    eid.cast("string"),
                    F.lit("; raise the prime modulus to keep seq2 collision-free"),
                )
            )
        )
    )
    repo = F.concat(F.lit("repo_"), (F.col("user_id") % 37).cast("string"))
    path = F.concat(F.lit("src/f_"), (eid % 211).cast("string"), F.lit(".py"))
    b = ev.select(
        eid.alias("seq"),
        ((eid * 7919) % 100003).alias("seq2"),
        repo.alias("repo"),
        path.alias("path"),
        F.lit("patch").alias("op"),
        F.when((eid % 4).isin(0, 3), F.concat(F.lit("c"), eid.cast("string"))).alias("commit"),
        F.when(eid % 4 == 1, F.col("event_type")).alias("lang"),
        F.when(
            (eid % 4).isin(2, 3),
            F.concat(F.lit("v"), eid.cast("string"), F.lit(":"), (eid % 97).cast("string")),
        ).alias("content"),
    )
    from ..operators.partial_update import partial_update_state

    st = partial_update_state(b, reset_ops=(), seq_by_col={"lang": "seq2"})
    return st.select(*_partial_vis_cols())


SQL_CDC_PARTIAL_UPDATE_SEQGROUP = """
WITH b AS (
  SELECT event_id AS seq,
         (event_id * 7919) % 100003 AS seq2,
         'repo_' || CAST(user_id % 37 AS VARCHAR) AS repo,
         'src/f_' || CAST(event_id % 211 AS VARCHAR) || '.py' AS path,
         CASE WHEN event_id % 4 IN (0, 3) THEN 'c' || CAST(event_id AS VARCHAR) END AS commit,
         CASE WHEN event_id % 4 = 1 THEN event_type END AS lang,
         CASE WHEN event_id % 4 IN (2, 3)
           THEN 'v' || CAST(event_id AS VARCHAR) || ':' || CAST(event_id % 97 AS VARCHAR)
         END AS content
  FROM events
)
SELECT repo, path,
       arg_max(commit, seq) FILTER (WHERE commit IS NOT NULL) AS commit,
       arg_max(lang, seq2) FILTER (WHERE lang IS NOT NULL) AS lang,
       sha256(arg_max(content, seq) FILTER (WHERE content IS NOT NULL)) AS content_sha256,
       max(seq) AS last_seq
FROM b GROUP BY repo, path
"""


def q_cdc_first_row(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-row merge engine (Paimon's ``first-row``): the EARLIEST event
    per key is canonical, later changes are ignored — LWW's min twin,
    same one-shuffle min_by aggregate (operators/dedup.py first_row). Keys
    whose first sighting is a delete have no creatable payload and are
    dropped. Oracle = row-atomic first row via row_number() in DuckDB
    (seq is unique), matching min_by's whole-row semantics exactly even if
    a payload column of the first event were NULL — per-column arg_min
    would null-skip to a later event's value there."""
    from ..operators.dedup import first_row

    win = first_row(_derived_binlog(spark, sf_dir))
    return win.filter(F.col("op") != "delete").select(
        "repo",
        "path",
        "commit",
        "lang",
        F.sha2(F.col("content"), 256).alias("content_sha256"),
        F.col("seq").alias("first_seq"),
    )


SQL_CDC_FIRST_ROW = f"""
WITH binlog AS ({_BINLOG_SQL}),
w AS (
  SELECT repo, path, op, commit, lang, content, seq AS first_seq,
         row_number() OVER (PARTITION BY repo, path ORDER BY seq) AS rn
  FROM binlog
)
SELECT repo, path, commit, lang, sha256(content) AS content_sha256, first_seq
FROM w WHERE rn = 1 AND op <> 'delete'
"""


def q_cdc_agg_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Aggregation merge engine (Paimon's ``aggregation``): per-key columns
    fold under declared per-column aggregates — exact decimal SUM, MAX, and
    last-non-null-by-seq — exercised in its cross-batch form: two epoch
    folds kept mergeable, merged with agg_merge_states, then unpacked.
    Equals the one-shot fold because every spec is associative+commutative;
    the oracle computes the one-shot form in SQL."""
    from ..operators.partial_update import agg_merge, agg_merge_states, visible_agg

    ev = load(spark, sf_dir, "events")
    eid = F.col("event_id")
    b = ev.select(
        eid.alias("seq"),
        F.concat(F.lit("repo_"), (F.col("user_id") % 37).cast("string")).alias("repo"),
        F.concat(F.lit("src/f_"), (eid % 211).cast("string"), F.lit(".py")).alias("path"),
        dec("value").alias("metric_total"),
        F.col("value").alias("metric_max"),
        F.when(eid % 13 != 7, F.col("event_type")).alias("lang_last"),
    )
    specs = {"metric_total": "sum", "metric_max": "max", "lang_last": "last"}
    mid = b.agg((F.max("seq") / 2).cast("long")).collect()[0][0]
    s1 = agg_merge(b.filter(F.col("seq") <= mid), specs, mergeable=True)
    s2 = agg_merge(b.filter(F.col("seq") > mid), specs, mergeable=True)
    merged = agg_merge_states(s1, s2, specs)
    out = visible_agg(merged, specs)
    return out.select(
        "repo",
        "path",
        F.col("metric_total").cast("double").alias("metric_total"),
        "metric_max",
        "lang_last",
        "last_seq",
    )


SQL_CDC_AGG_MERGE = """
WITH b AS (
  SELECT event_id AS seq,
         'repo_' || CAST(user_id % 37 AS VARCHAR) AS repo,
         'src/f_' || CAST(event_id % 211 AS VARCHAR) || '.py' AS path,
         CAST(value AS DECIMAL(18,2)) AS metric_d,
         value,
         CASE WHEN event_id % 13 <> 7 THEN event_type END AS lang
  FROM events
)
SELECT repo, path,
       CAST(sum(metric_d) AS DOUBLE) AS metric_total,
       max(value) AS metric_max,
       arg_max(lang, seq) FILTER (WHERE lang IS NOT NULL) AS lang_last,
       max(seq) AS last_seq
FROM b GROUP BY repo, path
"""


def q_asof_join_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temporal enrichment via the distributed as-of join
    (operators/asof.py): every 'view' event gains the user's latest
    'purchase' at-or-before it — the "state as of the event" lookup that
    equi-joins can't express. Same-(user, ts) purchase ties resolve to the
    max event_id through the operator's ``tiebreak`` ordering — inside the
    ONE union-window shuffle, no dedup pre-aggregation pass. Oracle:
    DuckDB's native ASOF LEFT JOIN over an arg_max-deduped history — an
    independent implementation of the same semantics (the explicit dedup
    the engine gets implicitly from the tiebreak), inclusive bound and
    all."""
    from ..operators.asof import asof_join

    ev = load(spark, sf_dir, "events")
    probe = ev.filter(F.col("event_type") == "view").select(
        "event_id", "user_id", "ts", F.col("value").alias("view_value")
    )
    hist = ev.filter(F.col("event_type") == "purchase").select(
        "user_id",
        "ts",
        F.col("event_id").alias("purchase_event_id"),
        F.col("value").alias("purchase_value"),
    )
    j = asof_join(probe, hist, on=["user_id"], left_ts="ts", right_ts="ts",
                  tiebreak="purchase_event_id")
    return j.select(
        "event_id",
        "user_id",
        "view_value",
        "asof_purchase_event_id",
        "asof_purchase_value",
        (
            F.unix_micros(F.col("ts").cast("timestamp"))
            - F.unix_micros(F.col("asof_ts").cast("timestamp"))
        ).alias("usec_since_purchase"),  # NTZ→TZ cast is exact (session TZ pinned UTC)
    )


SQL_ASOF_JOIN_EVENTS = """
WITH probe AS (
  SELECT event_id, user_id, ts, value AS view_value
  FROM events WHERE event_type = 'view'
),
hist AS (
  SELECT user_id, ts,
         max(event_id) AS purchase_event_id,
         arg_max(value, event_id) AS purchase_value
  FROM events WHERE event_type = 'purchase'
  GROUP BY user_id, ts
)
SELECT p.event_id, p.user_id, p.view_value,
       h.purchase_event_id AS asof_purchase_event_id,
       h.purchase_value AS asof_purchase_value,
       CAST(epoch_us(p.ts) - epoch_us(h.ts) AS BIGINT) AS usec_since_purchase
FROM probe p
ASOF LEFT JOIN hist h ON p.user_id = h.user_id AND p.ts >= h.ts
"""


def q_cdc_scd2_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD Type-2 dimension history (operators/scd.py) over the derived
    binlog: per (repo, path), one row per distinct (lang, band) version
    with its half-open validity interval in seq-time, is_current, and a
    per-key version number. Attributes are deliberately coarse (lang =
    event_type, band = seq % 3) so change suppression genuinely fires —
    consecutive same-attribute events collapse into one version — and
    delete → re-insert re-opens even an attribute-identical version.
    The reference's silver models full-refresh away this history
    (dbt_project/models/silver/*.sql); this is the operator that keeps it.
    Oracle: an independent lag/lead/row_number formulation in DuckDB."""
    from ..operators.scd import scd2_history

    src = _derived_binlog(spark, sf_dir).select(
        "seq", "repo", "path", "op", "lang", (F.col("seq") % 3).alias("band")
    )
    return scd2_history(src, keys=["repo", "path"], attrs=["lang", "band"])


SQL_CDC_SCD2_HISTORY = f"""
WITH binlog AS ({_BINLOG_SQL}),
src AS (
  SELECT seq, repo, path, op, lang, seq % 3 AS band FROM binlog
),
lagged AS (
  SELECT *, lag(op) OVER w AS p_op, lag(lang) OVER w AS p_lang,
         lag(band) OVER w AS p_band
  FROM src WINDOW w AS (PARTITION BY repo, path ORDER BY seq)
),
survivors AS (
  SELECT * FROM lagged
  WHERE NOT (op <> 'delete' AND p_op IS NOT NULL AND p_op <> 'delete'
             AND p_lang IS NOT DISTINCT FROM lang
             AND p_band IS NOT DISTINCT FROM band)
),
versions AS (
  SELECT repo, path, lang, band, op, seq AS valid_from_seq,
         lead(seq) OVER (PARTITION BY repo, path ORDER BY seq) AS valid_to_seq
  FROM survivors
)
SELECT repo, path, lang, band, valid_from_seq, valid_to_seq,
       (valid_to_seq IS NULL) AS is_current,
       CAST(row_number() OVER (PARTITION BY repo, path ORDER BY valid_from_seq)
            AS BIGINT) AS version_num
FROM versions WHERE op <> 'delete'
"""


def q_range_join_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyless range join (operators/range_join.py): every event matched to
    every 6-hour "incident window" (opened by each error event whose id is
    ≡ 0 mod 101) whose half-open span contains it — windows overlap, so an
    event can land in several (the multi-match semantics the as-of join
    deliberately doesn't have). No equality key at all: the naive plan is a
    nested-loop; this one is a bin equi-join (bin = the 6h window length →
    every interval explodes to ≤ 2 bins), plan-audited no-cartesian in
    tests/test_range_join.py. Oracle: DuckDB's inequality join (IEJoin)
    over the same derived windows. NTZ→TZ cast is exact (session TZ pinned
    UTC)."""
    from ..operators.range_join import interval_point_join

    ev = load(spark, sf_dir, "events")
    ts_us = F.unix_micros(F.col("ts").cast("timestamp"))
    win_us = 6 * 3600 * 1_000_000
    pts = ev.select("event_id", "user_id", "event_type", ts_us.alias("ts_us"))
    inc = ev.filter((F.col("event_type") == "error") & (F.col("event_id") % 101 == 0)).select(
        F.col("event_id").alias("incident_id"),
        ts_us.alias("start_us"),
        (ts_us + win_us).alias("end_us"),
    )
    j = interval_point_join(
        pts, inc, point_col="ts_us", start_col="start_us", end_col="end_us",
        bin_width=win_us,
    )
    return j.select(
        "event_id",
        "user_id",
        "event_type",
        F.col("rj_incident_id").alias("incident_id"),
        (F.col("ts_us") - F.col("rj_start_us")).alias("usec_into_incident"),
    )


SQL_RANGE_JOIN_EVENTS = """
WITH inc AS (
  SELECT event_id AS incident_id,
         epoch_us(ts) AS start_us,
         epoch_us(ts) + 21600000000 AS end_us
  FROM events WHERE event_type = 'error' AND event_id % 101 = 0
)
SELECT e.event_id, e.user_id, e.event_type, i.incident_id,
       epoch_us(e.ts) - i.start_us AS usec_into_incident
FROM events e JOIN inc i
  ON epoch_us(e.ts) >= i.start_us AND epoch_us(e.ts) < i.end_us
"""


def q_rollup_cascade_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable rollup cascade (operators/rollup.py): the DAY level of a
    minute → hour → day continuous-aggregate cascade over events — each
    level re-aggregated from the one below, the raw table touched once.
    Sum rides a decimal column so re-association across levels cannot
    change it; avg is derived at read time from sum/count (averages don't
    re-aggregate). The oracle aggregates DAILY DIRECTLY FROM RAW — matching
    it is precisely the claim that two coarsening steps lost nothing."""
    from ..operators.rollup import rollup_cascade

    ev = load(spark, sf_dir, "events")
    cascade = rollup_cascade(
        ev,
        ts_col="ts",
        resolutions=["1 minute", "1 hour", "1 day"],
        group_cols=["event_type"],
        measures={
            "total_value": ("sum", dec("value")),
            "min_value": ("min", "value"),
            "max_value": ("max", "value"),
        },
        count_col="events",
    )
    day = cascade["1 day"]
    return day.select(
        F.col("window_start").alias("day_start"),
        "event_type",
        "events",
        F.col("total_value").cast("double").alias("total_value"),
        "min_value",
        "max_value",
        (F.col("total_value").cast("double") / F.col("events")).alias("avg_value"),
    )


SQL_ROLLUP_CASCADE_DAILY = """
SELECT time_bucket(INTERVAL '1 day', ts) AS day_start,
       event_type,
       count(*) AS events,
       CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value,
       min(value) AS min_value,
       max(value) AS max_value,
       CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) / count(*) AS avg_value
FROM events
GROUP BY 1, 2
"""


def q_gold_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact (holistic) ordered-set aggregates: per-group median and tail
    percentiles with linear interpolation — the one aggregate class that
    is NOT a hash-agg monoid (exact quantiles need the group's sorted
    values; Spark plans ObjectHashAggregate/SortAggregate). Spark's
    ``percentile`` and DuckDB's ``quantile_cont`` share the
    ``(n-1)·p`` position + ``lo + (hi-lo)·frac`` interpolation, verified
    bit-exact on this data — no rounding crutch. At 100 TB the EXACT form
    is the bounded-cardinality path (group count is small; each group's
    values stream through one aggregation buffer); for high-cardinality
    groups the scale twin is ``approx_percentile`` (t-digest, mergeable,
    map-side combined) — property-tested against this exact form in
    tests/test_percentiles.py rather than oracle-hashed, since sketches
    are legitimately engine-specific."""
    ev = load(spark, sf_dir, "events")
    return (
        ev.groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            F.median("value").alias("median_value"),
            F.percentile("value", 0.9).alias("p90_value"),
            F.percentile("value", 0.99).alias("p99_value"),
        )
    )


SQL_GOLD_PERCENTILES = """
SELECT event_type,
       count(*) AS n,
       median(value) AS median_value,
       quantile_cont(value, 0.9) AS p90_value,
       quantile_cont(value, 0.99) AS p99_value
FROM events
GROUP BY event_type
"""


def q_gold_cube_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-dimensional grouping sets: CUBE over (event_type, day) — all
    four grouping combinations (both, by-type, by-day, grand total) in ONE
    pass via Catalyst's Expand operator, with ``grouping_id`` tagging which
    dims are rolled up. Spark's Expand replicates each input row once per
    grouping set BEFORE the shuffle, so partial aggregation still combines
    map-side — the same single-shuffle shape as a plain groupBy, just a
    4× wider map input; the alternative (4 separate aggregates + union)
    scans raw 4 times. Bit-exact vs DuckDB's GROUP BY CUBE, including the
    leftmost-is-MSB GROUPING() convention. NTZ→TZ cast exact (UTC)."""
    ev = load(spark, sf_dir, "events")
    return (
        ev.withColumn("day_start", F.date_trunc("day", F.col("ts").cast("timestamp")))
        .cube("event_type", "day_start")
        .agg(
            F.grouping_id().alias("gid"),
            F.count("*").alias("events"),
            dsum("value").alias("total_value"),
        )
    )


SQL_GOLD_CUBE_DAILY = """
SELECT event_type,
       date_trunc('day', ts) AS day_start,
       GROUPING(event_type, day_start) AS gid,
       count(*) AS events,
       CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
FROM events
GROUP BY CUBE (event_type, day_start)
"""


_BASE_REGISTRY: dict[str, QuerySpec] = {
    "cdc_quarantine": (q_cdc_quarantine, SQL_CDC_QUARANTINE),
    "windowed_event_counts": (q_windowed_event_counts, SQL_WINDOWED_EVENT_COUNTS),
    "sliding_window_counts": (q_sliding_window_counts, SQL_SLIDING_WINDOW_COUNTS),
    "session_window_counts": (q_session_window_counts, SQL_SESSION_WINDOW_COUNTS),
    "cdc_lww_state": (q_cdc_lww_state, SQL_CDC_LWW_STATE),
    "cdc_merge_upsert": (q_cdc_merge_upsert, SQL_CDC_LWW_STATE),  # MERGE ≡ LWW (see docstring)
    "cdc_cluster_scan": (q_cdc_cluster_scan, SQL_CDC_CLUSTER_SCAN),
    "cdc_bootstrap_handoff": (q_cdc_bootstrap_handoff, SQL_CDC_BOOTSTRAP_HANDOFF),
    "cdc_changelog": (q_cdc_changelog, SQL_CDC_CHANGELOG),
    "cdc_epoch_metrics": (q_cdc_epoch_metrics, SQL_CDC_EPOCH_METRICS),
    "cdc_incremental_gold": (q_cdc_incremental_gold, SQL_CDC_INCREMENTAL_GOLD),
    "cdc_partial_update": (q_cdc_partial_update, SQL_CDC_PARTIAL_UPDATE),
    # fold-halves + monoid-merge ≡ one-shot fold (see docstring) — shared oracle
    "cdc_partial_update_merge": (q_cdc_partial_update_merge, SQL_CDC_PARTIAL_UPDATE),
    "cdc_agg_merge": (q_cdc_agg_merge, SQL_CDC_AGG_MERGE),
    "cdc_first_row": (q_cdc_first_row, SQL_CDC_FIRST_ROW),
    "cdc_partial_update_seqgroup": (q_cdc_partial_update_seqgroup, SQL_CDC_PARTIAL_UPDATE_SEQGROUP),
    "silver_events_cleaned": (q_silver_events_cleaned, SQL_SILVER_EVENTS_CLEANED),
    "silver_standardize": (q_silver_standardize, SQL_SILVER_STANDARDIZE),
    "silver_surrogate_key": (q_silver_surrogate_key, SQL_SILVER_SURROGATE_KEY),
    "silver_unit_convert": (q_silver_unit_convert, SQL_SILVER_UNIT_CONVERT),
    "gold_top_entities": (q_gold_top_entities, SQL_GOLD_TOP_ENTITIES),
    "gold_two_level_agg": (q_gold_two_level_agg, SQL_GOLD_TWO_LEVEL_AGG),
    "gold_conditional_agg": (q_gold_conditional_agg, SQL_GOLD_CONDITIONAL_AGG),
    "gold_having": (q_gold_having, SQL_GOLD_HAVING),
    "gold_region_rollup": (q_gold_region_rollup, SQL_GOLD_REGION_ROLLUP),
    "left_join_enrich": (q_left_join_enrich, SQL_LEFT_JOIN_ENRICH),
    "anti_join_required": (q_anti_join_required, SQL_ANTI_JOIN_REQUIRED),
    "gold_string_agg": (q_gold_string_agg, SQL_GOLD_STRING_AGG),
    "topk_orders": (q_topk_orders, SQL_TOPK_ORDERS),
    "union_projections": (q_union_projections, SQL_UNION_PROJECTIONS),
    "case_custom_sort": (q_case_custom_sort, SQL_CASE_CUSTOM_SORT),
    "gold_formatted_report": (q_gold_formatted_report, SQL_GOLD_FORMATTED_REPORT),
    "source_excel_scan": (q_source_excel_scan, SQL_SOURCE_EXCEL_SCAN),
    "asof_join_events": (q_asof_join_events, SQL_ASOF_JOIN_EVENTS),
    "cdc_scd2_history": (q_cdc_scd2_history, SQL_CDC_SCD2_HISTORY),
    "range_join_events": (q_range_join_events, SQL_RANGE_JOIN_EVENTS),
    "rollup_cascade_daily": (q_rollup_cascade_daily, SQL_ROLLUP_CASCADE_DAILY),
    "gold_percentiles": (q_gold_percentiles, SQL_GOLD_PERCENTILES),
    "gold_cube_daily": (q_gold_cube_daily, SQL_GOLD_CUBE_DAILY),
}
