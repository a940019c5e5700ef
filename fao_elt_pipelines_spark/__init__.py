"""fao_elt_pipelines_spark — a from-scratch PySpark-native CDC / incremental
ingest engine with the query and data-processing capabilities of the
reference pipeline ``MickeyJ/fao-elt-pipelines`` (see ``/root/reference``,
surveyed in ``SURVEY.md``).

The reference is a batch ELT: HTTP/file/JDBC extractors → Postgres JSONB
bronze → dbt-compiled SQL silver/gold → dbt tests. This repo re-expresses
every capability Spark-first (DataFrame/SQL + Catalyst, Arrow-vectorized
pandas UDFs only where built-ins can't express the semantics) and adds the
CDC machinery the north rule mandates: binlog tail → last-write-wins dedup →
key-partitioned MERGE upsert into an Iceberg-semantics lake table, additive
schema evolution, exactly-once epoch-checkpointed sink, per-partition
lineage + metrics, resumable replay.

Layout
------
- ``session``     — tuned SparkSession builders (local[N] for tests/bench)
- ``binlog``      — deterministic distributed synthetic change-stream generator
- ``operators/``  — dedup (LWW, exact, MinHash-LSH, SimHash, n-gram Jaccard,
                    embedding near-dup), merge, top-k
- ``lake/``       — Iceberg-semantics table format (snapshots, manifests,
                    atomic commit, time travel), schema evolution,
                    checkpoints, replay driver, lineage, metrics
- ``plans/``      — reference stage re-expression (clean/validate/aggregate)
                    and reusable query builders
- ``functions/``  — scalar/column function library (keys, text analysis,
                    similarity, multimodal plumbing)
- ``sources/``    — batch readers (parquet/csv/json/jdbc-style)
- ``streaming/``  — Structured Streaming replay (readStream → foreachBatch)
"""

__version__ = "0.1.0"
