"""Connected components over a pair list — near-dup canonicalization.

After any near-dup detector (MinHash/SimHash/embedding LSH) emits pairs,
training-data dedup needs the TRANSITIVE closure: if A~B and B~C, keep
one canonical doc of {A,B,C}. This operator labels every node with the
minimum doc id reachable from it (the cluster id), fully distributed:

- each iteration is ONE shuffle: edges ⋈ labels → per-node min neighbor
  label → least(own, neighbor-min); labels only ever decrease.
- convergence is detected with an exact decimal sum of labels (a scalar
  driver aggregate — monotone non-increasing, unchanged ⟺ fixpoint).
- iterations needed = graph diameter. Near-dup clusters are shallow
  (dozens of docs, diameter ≲ 5), so this converges in a handful of
  rounds at any corpus size; for adversarially long path graphs use
  :func:`connected_components_star` (large-star/small-star contraction,
  O(log n)-ish rounds — the documented escape, wired in round 5).

No reference analogue (the reference has no dedup at all); this is part
of the training-data operator family layered on the engine.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..caching import release_local_checkpoint


def connected_components(
    pairs: DataFrame, src: str = "doc_a", dst: str = "doc_b", max_iter: int = 50
) -> DataFrame:
    """(node, cluster_id) for every node in ``pairs``; cluster_id is the
    min node id of the component (deterministic canonical choice).

    The returned frame is checkpoint-backed; a driver looping over many
    batches should pass a consumed result to
    ``caching.release_local_checkpoint`` to free its executor blocks
    eagerly instead of waiting on a JVM GC."""
    fwd = pairs.select(F.col(src).alias("a"), F.col(dst).alias("b"))
    # persisted for the loop only and released in the finally below: the
    # returned labels frame is localCheckpointed, so it no longer depends
    # on the edge set — callers outside the registry harness (which owns
    # release_caches) must not accumulate a pinned edge set per call
    edges = fwd.union(fwd.select(F.col("b").alias("a"), F.col("a").alias("b"))).distinct().persist()
    # Iterative fixpoint MUST truncate lineage every round: each iteration
    # references `labels` twice (self + neighbor side), so without a cut
    # the logical plan doubles per round and Catalyst analysis goes
    # exponential long before data size matters. localCheckpoint
    # materializes to executor storage and severs the plan — on a real
    # cluster with lineage-loss concerns, swap for reliable checkpoint().
    try:
        labels = (
            edges.select(F.col("a").alias("node"))
            .distinct()
            .withColumn("label", F.col("node"))
            .localCheckpoint()
        )
        prev_sum = labels.agg(
            F.sum(F.col("label").cast("decimal(38,0)")).alias("s")
        ).first()["s"]
        for _ in range(max_iter):
            nbr_min = (
                edges.join(
                    labels.select(F.col("node").alias("b"), F.col("label").alias("nb_label")),
                    "b",
                )
                .groupBy("a")
                .agg(F.min("nb_label").alias("nb_min"))
            )
            new_labels = (
                labels.join(nbr_min, labels["node"] == nbr_min["a"], "left")
                .select(
                    "node",
                    F.least(F.col("label"), F.coalesce(F.col("nb_min"), F.col("label"))).alias(
                        "label"
                    ),
                )
                .localCheckpoint()
            )
            cur_sum = new_labels.agg(
                F.sum(F.col("label").cast("decimal(38,0)")).alias("s")
            ).first()["s"]
            # the superseded round's checkpoint blocks are dead the moment
            # new_labels is materialized (localCheckpoint is eager);
            # ContextCleaner would hold them until a JVM GC nobody schedules
            release_local_checkpoint(labels)
            labels = new_labels
            if cur_sum == prev_sum:  # labels are non-increasing: fixpoint
                break
            prev_sum = cur_sum
        else:
            # Never return silently-wrong clusters: a component whose diameter
            # exceeds max_iter would otherwise come back split into several
            # cluster ids (under-dedup) with no signal.
            raise RuntimeError(
                f"connected_components did not converge in {max_iter} iterations; "
                "raise max_iter or use star-contraction for long-chain graphs"
            )
    finally:
        edges.unpersist()
    return labels.select(F.col("node"), F.col("label").alias("cluster_id"))


def _star_phase(edges: DataFrame, large: bool) -> DataFrame:
    """One large-star or small-star round (Kiveris et al., "Connected
    Components in MapReduce and Beyond", SoCC'14) over a canonical
    (a < b) edge list. Both phases view every node u as a center with
    undirected neighborhood Γ(u) and m(u) = min(Γ(u) ∪ {u}):

    - large-star emits (v, m(u)) for the strictly LARGER neighbors
      v > u — long chains hook their tails to local minima;
    - small-star emits (v, m(u)) for v ∈ Γ⁻(u) ∪ {u} minus m(u) itself,
      where Γ⁻ = neighbors < u — stars flatten onto their minimum.

    Each phase is one groupBy (per-center min) + one join back — the
    same two-exchange shape as a min-label round, but the edge set
    CONTRACTS geometrically instead of propagating one hop."""
    und = edges.union(edges.select(F.col("b").alias("a"), F.col("a").alias("b")))
    mins = und.groupBy("a").agg(F.min("b").alias("nb_min"))
    ctr = und.join(mins, "a").select(
        "a", "b", F.least(F.col("a"), F.col("nb_min")).alias("m")
    )
    if large:
        out = ctr.filter(F.col("b") > F.col("a")).select(
            F.col("m").alias("a"), F.col("b").alias("b")
        )
    else:
        out = (
            ctr.filter(F.col("b") < F.col("a"))
            .select(F.col("m").alias("a"), F.col("b").alias("b"))
            .union(ctr.select(F.col("m").alias("a"), F.col("a").alias("b")))
        )
    # canonical a < b; m == endpoint rows are self-loops, dropped
    return (
        out.filter(F.col("a") != F.col("b"))
        .select(F.least("a", "b").alias("a"), F.greatest("a", "b").alias("b"))
        .distinct()
    )


def connected_components_star(
    pairs: DataFrame, src: str = "doc_a", dst: str = "doc_b", max_iter: int = 64
) -> DataFrame:
    """(node, cluster_id) by large-star/small-star contraction — same
    contract and same canonical labels (component minimum) as
    :func:`connected_components`, but convergence is O(log n)-ish ROUNDS
    IN THE COMPONENT SIZE rather than O(diameter): an n-node path graph
    finishes in ~log2(n) alternations where min-propagation needs n
    rounds (property-pinned in tests/test_ml_ops.py). Use it when the
    pair graph may contain adversarially long chains; for the shallow
    clusters real near-dup detectors emit, min-propagation's two
    exchanges per round win on constants.

    Fixpoint test is EXACT set equality (two anti-join counts per round,
    cheap on the contracted edge set), not a checksum; non-convergence
    raises rather than returning split clusters, like the min-label
    form. Lineage is cut per round (localCheckpoint) for the same
    exponential-plan reason."""
    ab = pairs.select(F.col(src).alias("a"), F.col(dst).alias("b"))
    # node set is fixed up front, from the pairs BEFORE self-pairs are
    # dropped: a node seen only in an (a, a) pair is its own component
    # (connected_components labels it too), and contraction may drop a
    # node from the EDGE list once it is folded into its star center —
    # either way it still owes a label row at the end
    nodes = (
        ab.select(F.col("a").alias("node"))
        .union(ab.select(F.col("b").alias("node")))
        .distinct()
        .localCheckpoint()
    )
    prev = (
        ab.filter(F.col("a") != F.col("b"))
        .select(F.least("a", "b").alias("a"), F.greatest("a", "b").alias("b"))
        .distinct()
        .localCheckpoint()
    )
    for _ in range(max_iter):
        cur = _star_phase(_star_phase(prev, large=True), large=False)
        cur = cur.localCheckpoint()
        changed = (
            cur.join(prev, ["a", "b"], "left_anti").limit(1).count()
            + prev.join(cur, ["a", "b"], "left_anti").limit(1).count()
        )
        release_local_checkpoint(prev)
        prev = cur
        if changed == 0:
            break
    else:
        raise RuntimeError(
            f"connected_components_star did not converge in {max_iter} "
            "rounds — edge set still contracting"
        )
    # converged: every edge is (component_min, v); a node's label is its
    # min neighbor, centers label themselves. Materialize (eager
    # localCheckpoint, like the min-label form's return) BEFORE releasing
    # the inputs the lazy plan depends on.
    und = prev.union(prev.select(F.col("b").alias("a"), F.col("a").alias("b")))
    lbl = und.groupBy(F.col("a").alias("node")).agg(F.min("b").alias("nb_min"))
    result = (
        nodes.join(lbl, "node", "left")
        .select(
            "node",
            F.least(F.col("node"), F.coalesce(F.col("nb_min"), F.col("node"))).alias(
                "cluster_id"
            ),
        )
        .localCheckpoint()
    )
    release_local_checkpoint(prev)
    release_local_checkpoint(nodes)
    return result
