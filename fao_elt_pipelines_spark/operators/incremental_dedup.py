"""Incremental MinHash-LSH dedup on ingest.

The batch dedup family (plans/queries_ml.q_dedup_minhash_lsh) answers
"which near-dup pairs exist in this corpus?" in one pass. An ingest
pipeline needs the ONLINE form of the same question: change batches arrive
epoch by epoch (the CDC half of this engine), and each batch must be
checked against everything already ingested WITHOUT re-scanning the
corpus. This module maintains an LSH index across batches and emits, per
batch, exactly the verified near-dup pairs whose newest member is in that
batch — so the union of per-batch emissions over any batch split equals
the batch-mode pair set (pinned by tests/test_ml_ops.py and by sharing
the batch query's DuckDB oracle in the registry).

Reference behavior analogue: the reference re-runs its full clean/validate
stages on every sync (`/root/reference/pipelines/fao/pipeline.py` executes
each dbt stage unconditionally per run); this operator is the incremental
re-expression that makes per-batch dedup cost independent of corpus size.

Scale design (what the index stores, and what it does NOT):

* The index holds (band_id, band_val, doc_id) rows and per-doc shingle
  counts — O(docs × n_bands) small rows, NOT the corpus's shingle sets
  (O(total tokens)). Exact-Jaccard verification re-derives shingles for
  CANDIDATE docs only, by key-lookup into the corpus (in the lake story
  the documents already live in a LakeTable whose manifest bounds
  file-skip the lookup, lake/table.py lookup_join).
* Per batch: signature agg (one shuffle on doc_id, map-side combined),
  band join new×index + self-join new×new (equi-joins on (band_id,
  band_val) — bounded bucket fanout, AQE skew-split), candidate-restricted
  verify (O(|candidate docs| · avg_shingles)). Nothing touches
  non-candidate history; per-batch cost scales with the batch and its
  collision neighborhood, not with corpus size.
* Emission is exactly-once per pair: a pair surfaces only in the batch of
  its newer member (new×index) or their shared batch (new×new). Docs the
  index already knows are anti-joined out of the incoming batch before
  anything else, so an at-least-once upstream re-offering an ingested doc
  (same text — see LshIndex's contract) contributes nothing new and never
  re-emits its historical pairs.
"""

from __future__ import annotations

import hashlib
import os
import shutil
from dataclasses import dataclass
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions import similarity as SIM
from ..lake import durable

ShinglesFor = Callable[[DataFrame], DataFrame]


def shingles_from_corpus(corpus: DataFrame) -> ShinglesFor:
    """Candidate-restricted shingle lookup: given a frame of ``doc_id``
    rows, join-filter the corpus down to those docs and shingle ONLY them.
    The join (not ``isin`` over a collected list) keeps the candidate set
    distributed; Spark broadcasts it when small."""

    def _for(ids: DataFrame) -> DataFrame:
        return SIM.shingle_rows(corpus.join(ids.distinct(), "doc_id"))

    return _for


def ingest_batch(
    batch_sh: DataFrame,
    index_bands: DataFrame | None,
    index_sizes: DataFrame | None,
    shingles_for: ShinglesFor,
    *,
    k: int = 8,
    rows_per_band: int = 2,
    tau: float = 0.5,
    persist_fn: Callable[[DataFrame], DataFrame] = lambda df: df,
    assume_disjoint: bool = False,
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """One ingest step: (batch shingle rows, index so far) → (verified
    pairs whose newest member is in this batch, this batch's band rows,
    this batch's size rows). Plan construction only — the caller owns
    persistence of its inputs: ``batch_sh`` is consumed twice (signature
    + sizes) and the returned band frame three times (self-join both
    sides + index join), so persist both before triggering actions
    (Spark's cache manager matches by logical plan, so marking them
    persisted after this returns still dedupes the work). ``persist_fn``
    is applied to the two intermediates this function branches over
    internally (the candidate set, consumed 3×, and the looked-up
    candidate shingles, consumed by both verify joins) — pass a persist
    wrapper there or the shingle lookup re-runs per reference."""
    if index_bands is not None and not assume_disjoint:
        # drop docs the index already knows (anti on the band rows' doc
        # ids — no distinct needed for an anti join): an at-least-once
        # upstream re-offering an ingested doc must be a no-op, not a
        # re-emission of all its historical pairs. ``assume_disjoint``
        # skips this pass-through scan when the CALLER partitions the
        # stream (exactly-once upstream / key-ranged batches) — with
        # overlapping input it would re-emit, so LshIndex never sets it.
        batch_sh = batch_sh.join(index_bands.select("doc_id"), "doc_id", "left_anti")
    sig = SIM.minhash_signature(batch_sh, "doc_id", "shingle", k=k)
    bands_b = SIM.lsh_bands(sig, "doc_id", k=k, rows_per_band=rows_per_band)
    sizes_b = batch_sh.groupBy("doc_id").agg(F.count("*").alias("n"))

    cand = SIM.candidate_pairs(bands_b, "doc_id")
    if index_bands is not None:
        old_new = (
            index_bands.withColumnRenamed("doc_id", "_i")
            .join(bands_b.withColumnRenamed("doc_id", "_n"), ["band_id", "band_val"])
            .filter(F.col("_i") != F.col("_n"))  # re-offered doc: never pairs with itself
            .select(
                F.least("_i", "_n").alias("doc_a"),
                F.greatest("_i", "_n").alias("doc_b"),
            )
            .distinct()
        )
        # no distinct over the union: candidate_pairs and old_new are each
        # internally distinct, and the two sets cannot overlap — a new×new
        # pair has BOTH members in this batch's band rows, an old×new pair
        # has exactly one member from the index, and index docs are
        # disjoint from batch docs (anti-joined above, or guaranteed by
        # the assume_disjoint contract)
        cand = cand.unionByName(old_new)

    cand = persist_fn(cand)
    ids = cand.select(F.col("doc_a").alias("doc_id")).unionByName(
        cand.select(F.col("doc_b").alias("doc_id"))
    )
    # one lookup covers BOTH sides' candidate docs (a batch-side/old-side
    # split reusing batch_sh for the new side was measured slower — the
    # extra semi/anti/union stages cost more than the saved re-shingle,
    # and the corpus key-join scans the same files either way)
    sh_needed = persist_fn(shingles_for(ids))
    inter = (
        cand.join(sh_needed.select(F.col("doc_id").alias("doc_a"), "shingle"), "doc_a")
        .join(
            sh_needed.select(F.col("doc_id").alias("doc_b"), "shingle"),
            ["doc_b", "shingle"],
        )
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("c"))
    )
    # batch rows win on overlap: after a sizes-landed-bands-didn't crash
    # the rerun batch's docs exist in index_sizes too, and a plain union
    # would give them TWO size rows — jaccard_verify's inner joins would
    # then fan every such pair out 2-4x (duplicate pair ROWS, set-equal
    # but multiset-wrong)
    if index_sizes is None:
        sizes_all = sizes_b
    elif assume_disjoint:
        # disjoint batches can't overlap the index — plain union, no
        # dedup join needed
        sizes_all = index_sizes.unionByName(sizes_b)
    else:
        sizes_all = index_sizes.join(
            sizes_b.select("doc_id"), "doc_id", "left_anti"
        ).unionByName(sizes_b)
    pairs = SIM.jaccard_verify(inter, sizes_all, tau)
    return pairs, bands_b, sizes_b


@dataclass
class LshIndex:
    """Parquet-backed LSH index: survives process restarts; per batch it
    OVERWRITES three dirs (pairs/batch=<id>, sizes/batch=<id>,
    bands/batch=<id>) and then atomically swaps the commit manifest
    (commits/MANIFEST.json via ``lake.durable.replace_json`` — the lake's
    VERSION-pointer write at miniature scale). Reads — both the candidate
    index inside ingest and ``all_pairs`` — see MANIFESTED batches only, so
    every crash state is simply invisible: a rerun of an uncommitted
    batch recomputes against the same committed index and overwrites the
    partial dirs; a rerun of a committed batch short-circuits to its
    existing pairs. This makes the pairs output exact as a MULTISET (no
    duplicate rows under any rerun), not just as a set.

    ``compact()`` bounds the file-listing cost of a long-lived index: at
    one ingest per epoch, a 10^10-event replay would otherwise accumulate
    thousands of batch dirs whose per-dir open cost eventually dominates
    the candidate join. Compaction consolidates all committed batches
    into one generation dir per dataset and swaps the manifest to point
    at it — the same crash discipline (consolidated dirs are invisible
    until the manifest swap; a crashed compaction leaves the old manifest
    in force) — then best-effort GCs the superseded dirs.

    Single-writer contract (like the lake's driver-side commit path): one
    process ingests/compacts a given index root at a time.

    Data contract: the corpus is append-only and docs are immutable — a
    doc_id, once committed, must never be re-offered with DIFFERENT text
    (the index has no retraction path for its old bands). Re-offering
    with the SAME text under a new batch id is a no-op for that doc
    (ingest_batch anti-joins known docs out), so an at-least-once
    upstream never re-emits a pair. The CDC-update form (retract +
    re-index on content change) would hang a changelog feed in front of
    this operator; out of scope here."""

    spark: SparkSession
    root: str
    k: int = 8
    rows_per_band: int = 2
    tau: float = 0.5

    def _dir(self, *parts: str) -> str:
        return os.path.join(self.root, *parts)

    def _manifest_path(self) -> str:
        return self._dir("commits", "MANIFEST.json")

    def _manifest(self) -> dict:
        try:
            m = durable.load_json(self._manifest_path())
            # manifests written before the ingested-id list existed:
            # everything committed had been ingested
            m.setdefault("ingested", list(m.get("committed", [])))
            return m
        except FileNotFoundError:
            commits = self._dir("commits")
            if os.path.isdir(commits) and any(
                not e.startswith(".") for e in os.listdir(commits)
            ):
                raise RuntimeError(
                    "LshIndex: commits/ holds entries but no MANIFEST.json — "
                    "refusing to silently treat a foreign or corrupted index "
                    "as empty (re-ingesting over it would re-emit pairs and "
                    "orphan its history)"
                )
            return {"committed": [], "ingested": []}

    def _committed(self) -> list[str]:
        return list(self._manifest()["committed"])

    def _ingested(self) -> list[str]:
        return list(self._manifest()["ingested"])

    def _swap_manifest(self, committed: list[str], ingested: list[str]) -> None:
        os.makedirs(self._dir("commits"), exist_ok=True)
        durable.replace_json(
            self._manifest_path(), {"committed": committed, "ingested": ingested}
        )

    def _mark_committed(self, batch_id: int | str) -> None:
        m = self._manifest()
        if str(batch_id) not in m["committed"]:
            self._swap_manifest(
                [*m["committed"], str(batch_id)],
                sorted({*m["ingested"], str(batch_id)}),
            )

    def _read_committed(self, name: str) -> DataFrame | None:
        dirs = [self._dir(name, f"batch={b}") for b in self._committed()]
        dirs = [d for d in dirs if os.path.isdir(d)]
        if not dirs:
            return None
        return self.spark.read.parquet(*dirs)

    def _pairs_of(self, batch_id: int) -> DataFrame:
        """A committed batch's pairs, attribution-preserving: pair rows
        carry their emitting batch id, so this works identically before
        and after compaction folds the per-batch dirs away."""
        return self.all_pairs(with_batch=True).filter(
            F.col("batch") == int(batch_id)
        ).drop("batch")

    def ingest(self, batch_docs: DataFrame, shingles_for: ShinglesFor, batch_id: int) -> DataFrame:
        """Ingest one batch of (doc_id, text) rows; returns the batch's
        verified near-dup pairs. Idempotent per batch id: an already-
        ingested id short-circuits to its recorded pairs (also after
        compaction — emissions carry their batch id), an uncommitted
        rerun recomputes and overwrites."""
        if str(batch_id) in self._ingested():
            return self._pairs_of(batch_id)
        cached: list[DataFrame] = []

        def _persist(df: DataFrame) -> DataFrame:
            cached.append(df.persist())
            return df

        batch_sh = _persist(SIM.shingle_rows(batch_docs))
        pairs, bands_b, sizes_b = ingest_batch(
            batch_sh,
            self._read_committed("bands"),
            self._read_committed("sizes"),
            shingles_for,
            k=self.k,
            rows_per_band=self.rows_per_band,
            tau=self.tau,
            persist_fn=_persist,
        )
        _persist(bands_b)
        try:
            out = self._dir("pairs", f"batch={batch_id}")
            pairs.withColumn("batch", F.lit(int(batch_id))).write.mode("overwrite").parquet(out)
            sizes_b.write.mode("overwrite").parquet(self._dir("sizes", f"batch={batch_id}"))
            bands_b.write.mode("overwrite").parquet(self._dir("bands", f"batch={batch_id}"))
            self._mark_committed(batch_id)
        finally:
            for df in cached:
                df.unpersist()
        # fresh path: read the one dir just written (O(1) listing) — the
        # all-committed-dirs batch-filter read is only for short-circuits
        return self.spark.read.parquet(out).drop("batch")

    def all_pairs(self, with_batch: bool = False) -> DataFrame:
        pairs = self._read_committed("pairs")
        if pairs is None:
            raise ValueError("LshIndex.all_pairs: no committed batches")
        return pairs if with_batch else pairs.drop("batch")

    def compact(self) -> int:
        """Consolidate every committed batch's bands/sizes/pairs into one
        generation dir per dataset and atomically repoint the manifest at
        it (the ``ingested`` id list is preserved, so idempotent
        short-circuits survive compaction); then GC every dataset dir the
        new manifest does not reference — superseded batches AND orphans
        from earlier crashed compactions or abandoned ingests. Returns
        the number of batch dirs consolidated (0 = nothing to do).

        The generation id is a hash of the committed-id list, so a
        compaction that crashed mid-write is re-run idempotently (same
        inputs → same gen dirs, overwritten) while the old manifest stays
        in force until the swap — the exact ingest crash discipline.

        Same-process hazard (like the lake's snapshot expiry): DataFrames
        returned by earlier ``ingest``/``all_pairs`` calls are lazy plans
        over the pre-compaction dirs — materialize them before calling
        this, and re-call ``all_pairs()`` after."""
        committed = self._committed()
        if len(committed) > 1:
            gen = "c-" + hashlib.sha256("|".join(committed).encode()).hexdigest()[:12]
            for name in ("pairs", "sizes", "bands"):
                df = self._read_committed(name)
                if df is not None:
                    df.write.mode("overwrite").parquet(self._dir(name, f"batch={gen}"))
            self._swap_manifest([gen], self._ingested())
            live, consolidated = {gen}, len(committed)
        else:
            # nothing to consolidate — but still sweep orphans below (a
            # crashed never-redelivered ingest, a crashed prior gen)
            live, consolidated = set(committed), 0
        for name in ("pairs", "sizes", "bands"):
            base = self._dir(name)
            for entry in os.listdir(base) if os.path.isdir(base) else []:
                if entry.startswith("batch=") and entry.removeprefix("batch=") not in live:
                    shutil.rmtree(os.path.join(base, entry), ignore_errors=True)
        return consolidated
