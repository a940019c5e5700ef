"""Deterministic, distributed synthetic binlog/WAL generator.

Produces the FIXTURES.md §1 ``change_events`` stream: one row per change
event over source-code-repository rows ``(repo, path, commit, lang,
content)`` with a CDC envelope ``(seq, epoch, op, ingest_ts)``.

Reference analogue: the paginated extract loop
(``/root/reference/ingestion/api_client.py:100-270``) where page == batch;
here the stream is synthesized instead of fetched, because the north rule's
input is a binlog-shaped change stream, and the sandbox has no network.

Design for scale
----------------
- Generated entirely from ``spark.range(n_events)`` + JVM-side column
  expressions (xxhash64-driven), so generation is embarrassingly parallel,
  O(1) memory per task, and identical regardless of partitioning — the
  10^10-event target is a matter of partition count only.
- Zipf-ish hot-repo skew: ``repo_rank = floor((n_repos+1)^u) - 1`` with
  u~U[0,1) makes repo ranks log-uniform, so repo_00000 alone gets
  ``log(2)/log(n_repos+1)`` of all traffic (~10% at 1000 repos) — this is
  the skew full-key bucketing must absorb.
- ``content`` is derived from ``(repo, path, seq)`` alone, so any oracle can
  recompute the expected sha256 without materializing the stream.
- ``ingest_ts`` has bounded jitter vs seq (late-data realism); correctness
  never depends on it — LWW order is ``seq``.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

#: languages keyed by path extension (FIXTURES.md §1)
LANGS = ["py", "js", "ts", "go", "rs", "java", "md", "sql"]

#: repos the generator guarantees to be present (FIXTURES.md §4 — the
#: singular-test analogue of the reference's required-countries test,
#: /root/reference/dbt_project/tests/test_data_quality.sql:4-16).
def expected_repos(n: int = 5) -> list[str]:
    return [f"repo_{i:05d}" for i in range(n)]


def _unit(seed: int, tag: str, col: Column) -> Column:
    """Deterministic pseudo-uniform in [0,1) from (seed, tag, col)."""
    h = F.xxhash64(F.lit(seed), F.lit(tag), col)
    # xxhash64 is a signed long; fold to [0, 2^52) then scale.
    return (F.pmod(h, F.lit(1 << 52)).cast("double")) / float(1 << 52)


def change_events(
    spark: SparkSession,
    n_events: int,
    n_repos: int = 1000,
    paths_per_repo: int = 200,
    events_per_epoch: int = 100_000,
    seed: int = 42,
    num_partitions: int | None = None,
    with_v2_columns: bool = False,
    content_reps: int | None = None,
    start_seq: int = 0,
) -> DataFrame:
    """Build the change-event DataFrame lazily (never collected).

    Columns: seq, epoch, op, repo, path, commit, lang, content, ingest_ts
    (+ author, size_bytes when ``with_v2_columns`` — FIXTURES.md §3, the
    additive schema-evolution variant).

    ``start_seq`` generates the SLICE [start_seq, start_seq + n_events)
    of the logical stream: every column is a pure function of seq, so a
    slice is bit-identical to the same range of a whole-stream
    generation — what lets a 10^10-event replay generate/replay/delete
    epoch slices without ever materializing the full binlog
    (bench/validate_1e8.py --gen-slices).
    """
    if num_partitions is None:
        num_partitions = max(spark.sparkContext.defaultParallelism, 8)
    df = spark.range(start_seq, start_seq + n_events, 1, num_partitions).withColumnRenamed("id", "seq")
    seq = F.col("seq")

    u_repo = _unit(seed, "repo", seq)
    # log-uniform rank in [0, n_repos): heavy head, long tail.
    repo_rank = F.floor(F.pow(F.lit(float(n_repos + 1)), u_repo)) - 1
    repo = F.format_string("repo_%05d", repo_rank.cast("int"))

    u_path = _unit(seed, "path", seq)
    path_idx = F.floor(u_path * paths_per_repo).cast("int")
    ext = F.element_at(
        F.array(*[F.lit(x) for x in LANGS]), (path_idx % len(LANGS)) + 1
    )
    path = F.concat(
        F.lit("src/dir_"),
        (path_idx % 16).cast("string"),
        F.lit("/file_"),
        path_idx.cast("string"),
        F.lit("."),
        ext,
    )

    u_op = _unit(seed, "op", seq)
    op = (
        F.when(u_op < 0.70, F.lit("insert"))
        .when(u_op < 0.95, F.lit("update"))
        .otherwise(F.lit("delete"))
    )

    commit = F.sha1(F.concat_ws(":", repo, seq.cast("string")))
    # Deterministic 50–1500 char payload from (repo, path, seq): repeat a
    # short seed phrase a hash-chosen number of times. repeat+substr are
    # codegen'd JVM ops — no Python in the generator.
    base = F.concat_ws("@", repo, path, seq.cast("string"))
    # content_reps pins payload size (1 rep = 50 chars); None = hash-chosen
    # 50-1500 chars (the realistic default)
    if content_reps is not None:
        reps = F.lit(content_reps)
    else:
        reps = (F.floor(_unit(seed, "len", seq) * 30) + 1).cast("int")
    content_raw = F.substring(F.repeat(F.concat(base, F.lit(" ")), 40), 1, 50)
    content = F.when(
        op == "delete", F.lit(None).cast("string")
    ).otherwise(F.repeat(content_raw, reps))

    ingest_ts = F.timestamp_seconds(
        F.lit(1_700_000_000)
        + (seq / 1000.0)
        + (_unit(seed, "jitter", seq) * 10.0 - 5.0)
    )

    out = df.select(
        seq,
        (seq / events_per_epoch).cast("long").alias("epoch"),
        op.alias("op"),
        repo.alias("repo"),
        path.alias("path"),
        commit.alias("commit"),
        ext.alias("lang"),
        content.alias("content"),
        ingest_ts.alias("ingest_ts"),
    )
    if with_v2_columns:
        out = out.withColumn(
            "author", F.format_string("dev_%03d", (F.floor(_unit(seed, "author", seq) * 500)).cast("int"))
        ).withColumn("size_bytes", F.length(F.coalesce(F.col("content"), F.lit(""))).cast("long"))
    return out
