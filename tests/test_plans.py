"""Physical-plan audits: assert the optimizations we claim actually appear
in the executed plans (pushdown, pruning, broadcast, single-exchange MERGE,
no Python in hot paths)."""

import re

import pytest
from pyspark.sql import functions as F

from fao_elt_pipelines_spark.plans.queries import q_gold_region_rollup


from tests.plan_utils import n_nodes as _n_nodes
from tests.plan_utils import plan_of as _plan


@pytest.fixture(scope="module")
def registry_plans(spark, sf_dir):
    """Every registry entry's physical plan, built once for the module's
    whole-registry audits (building some entries runs Spark jobs)."""
    from fao_elt_pipelines_spark.plans.registry import REGISTRY

    return {name: _plan(fn(spark, sf_dir)) for name, (fn, _) in REGISTRY.items()}


def test_filter_pushdown_reaches_parquet(spark, sf_dir):
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    df = li.filter(F.col("l_quantity") > 45).select("l_orderkey", "l_quantity")
    plan = _plan(df)
    assert "PushedFilters" in plan and "GreaterThan(l_quantity" in plan
    # column pruning: ReadSchema carries only the two needed columns
    m = re.search(r"ReadSchema: struct<([^>]*)>", plan)
    assert m and set(c.split(":")[0] for c in m.group(1).split(",")) == {
        "l_orderkey", "l_quantity",
    }


def test_dim_join_is_broadcast(spark, sf_dir):
    plan = _plan(q_gold_region_rollup(spark, sf_dir))
    assert "BroadcastHashJoin" in plan


def test_merge_plan_single_exchange(spark, tmp_path):
    """The sorted-MERGE write plan must contain exactly ONE shuffle: the
    repartition by bucket. The window's distribution requirement is
    satisfied by it (no second Exchange), as claimed in lake/table.py."""
    from fao_elt_pipelines_spark import binlog
    from fao_elt_pipelines_spark.lake.table import bucket_expr
    from pyspark.sql import Window

    ev = binlog.change_events(spark, 10_000, n_repos=20)
    n_buckets = 8
    evb = ev.withColumn("_bucket", bucket_expr(n_buckets))
    packed = evb.repartition(n_buckets, F.col("_bucket"))
    w = Window.partitionBy("_bucket").orderBy("repo", "path", F.col("seq").desc())
    key_str = F.concat_ws("\x00", F.col("repo"), F.col("path"))
    prev = F.lag(key_str).over(w)
    winners = packed.withColumn("_w", prev.isNull() | (prev != key_str)).filter(F.col("_w"))
    plan = _plan(winners)
    assert _n_nodes(plan, "Exchange") == 1, plan
    assert "EvalPython" not in plan  # expressions stay JVM-side


def test_late_lww_prunes_payload_from_winner_scan(spark, tmp_path):
    """The late-materialization merge's winner aggregate must read ONLY
    (key, seq) from the source — payload bytes never feed the winner
    shuffle. The plan must show a column-pruned scan (repo, path, seq) for
    the aggregate branch, a partial/final aggregate pair (map-side
    combine), and a LEFT SEMI join fetching payloads."""
    from fao_elt_pipelines_spark import binlog
    from fao_elt_pipelines_spark.lake.table import LakeTable

    p = str(tmp_path / "ev.parquet")
    binlog.change_events(spark, 5_000, n_repos=20).write.parquet(p)
    stored = spark.read.parquet(p)
    table = LakeTable.create(
        spark, str(tmp_path / "t"),
        stored.drop("op", "epoch").schema, n_buckets=4,
    )
    payload = ["repo", "path", "commit", "lang", "content"]
    df = table._late_lww(stored, ("repo", "path"), "seq", "op", payload, 4)
    plan = _plan(df)
    assert "LeftSemi" in plan, plan
    pruned = [
        set(m.group(1).split(","))
        for m in re.finditer(r"ReadSchema: struct<([^>]*)>", plan)
    ]
    assert {"repo:string", "path:string", "seq:bigint"} in pruned, plan
    n_aggs = _n_nodes(plan, "HashAggregate") + _n_nodes(plan, "SortAggregate")
    assert n_aggs >= 2  # partial + final (map-side combine)
    assert "EvalPython" not in plan


def test_lww_maxby_has_partial_aggregate(spark):
    """Query-level LWW (max_by strategy) must show a partial hash aggregate
    before the shuffle (map-side combine)."""
    from fao_elt_pipelines_spark import binlog
    from fao_elt_pipelines_spark.operators.dedup import lww_dedup

    ev = binlog.change_events(spark, 10_000, n_repos=20)
    plan = _plan(lww_dedup(ev))
    # partial + final aggregate (max_by of a struct plans as SortAggregate)
    # around exactly one Exchange — the map-side combine is what bounds the
    # shuffle volume at 10^10 events
    n_aggs = _n_nodes(plan, "SortAggregate") + _n_nodes(plan, "HashAggregate")
    assert n_aggs >= 2
    assert _n_nodes(plan, "Exchange") == 1


def test_no_python_udf_in_relational_queries(registry_plans):
    """Every oracle-checked relational query stays JVM-side (no
    BatchEvalPython / ArrowEvalPython nodes) — UDFs are reserved for the
    explicitly-Python surfaces (simhash's unpackbits reduction, the
    kmeans-IVF trained-quantizer assignment/probe einsums — which since
    round 5 also cell the semantic_dedup sweep via semantic_cells —
    multimodal decode), all Arrow-batched numpy, never row-at-a-time."""
    for name, plan in registry_plans.items():
        if name in (
            "simhash_signatures",
            "simhash_neardup",
            "ann_kmeans_topk",
            "semantic_dedup",  # trained-cell assignment (kmeans_assign)
        ):
            continue
        assert "EvalPython" not in plan, f"{name} plan contains Python eval"


def test_global_rank_no_single_partition_exchange(spark, sf_dir):
    """The two-phase rank (operators.rank) must never plan an Exchange to
    a single partition — the scale-killer the unpartitioned window had.
    Checked on both rank-bearing query surfaces."""
    from fao_elt_pipelines_spark.plans.queries import q_gold_top_entities

    plan = _plan(q_gold_top_entities(spark, sf_dir))
    assert "Exchange SinglePartition" not in plan, plan


def test_ann_ivf_no_cartesian_no_python(spark, sf_dir):
    """The IVF ANN's candidate join must be an equi-join on bucket id
    (shuffle/broadcast hash), never a cartesian product, and the whole
    plan stays JVM-side."""
    from fao_elt_pipelines_spark.plans.queries_ml import q_ann_ivf_topk

    plan = _plan(q_ann_ivf_topk(spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "EvalPython" not in plan


def test_minhash_lsh_no_cartesian(spark, sf_dir):
    """LSH near-dup never degenerates to an all-pairs cross join: every
    join in the plan is keyed (band bucket / doc id / shingle)."""
    from fao_elt_pipelines_spark.plans.queries_ml import q_dedup_minhash_lsh

    plan = _plan(q_dedup_minhash_lsh(spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "EvalPython" not in plan


def test_semantic_dedup_single_cell_shuffle(spark, sf_dir):
    """The greedy survivor sweep is ONE hashpartitioning exchange on the
    cell id feeding one FlatMapGroupsInPandas — no joins, no cartesian,
    no extra shuffle: cells are independent and the sequential part never
    leaves a cell."""
    from fao_elt_pipelines_spark.plans.queries_ml import q_semantic_dedup
    from plan_utils import n_nodes

    plan = _plan(q_semantic_dedup(spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert n_nodes(plan, "Exchange") == 1, plan
    assert n_nodes(plan, "FlatMapGroupsInPandas") == 1, plan
    assert "SortMergeJoin" not in plan and "BroadcastHashJoin" not in plan


def test_pack_sequences_no_single_partition_exchange(spark, sf_dir):
    """Sequence packing's global running total must use the two-phase
    cumsum, never a single-partition window over the whole corpus."""
    from fao_elt_pipelines_spark.plans.queries_ml import q_pack_sequences

    plan = _plan(q_pack_sequences(spark, sf_dir))
    assert "Exchange SinglePartition" not in plan, plan
    assert "EvalPython" not in plan


def test_sample_stratified_codegen_filter(spark, sf_dir):
    """Stratified sampling must stay a JVM codegen filter: no Python eval
    and no shuffle before the presentation sort."""
    from fao_elt_pipelines_spark.plans.queries_ml import q_sample_stratified

    plan = _plan(q_sample_stratified(spark, sf_dir))
    assert "EvalPython" not in plan
    assert _n_nodes(plan, "Exchange") <= 1, plan  # only the orderBy range exchange


def test_text_repetition_no_global_sort_no_python(spark, sf_dir):
    """The repetition filters' trigram window is partitioned by doc_id —
    never a single-partition global sort — and the whole plan stays
    JVM-side (no interpreted HOF / EvalPython on the hot path)."""
    from fao_elt_pipelines_spark.plans.queries_ml import q_text_repetition

    plan = _plan(q_text_repetition(spark, sf_dir))
    assert "EvalPython" not in plan
    assert "SinglePartition" not in plan, plan
    assert "CartesianProduct" not in plan


def test_dedup_chunks_agg_not_window_no_python(spark, sf_dir):
    """Chunk dedup's first-occurrence pick is a map-side-combinable
    aggregate + equi-join, NOT a row_number window over the chunk
    partition (a boilerplate chunk would sort-shuffle every occurrence
    into one task); the whole plan stays JVM-side and keyed."""
    from fao_elt_pipelines_spark.plans.queries_ml import q_dedup_chunks

    plan = _plan(q_dedup_chunks(spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "EvalPython" not in plan
    # the only Window is the lead() chunk assembly, partitioned by doc_id
    import re

    specs = re.findall(r"windowspecdefinition\((\w+)#", plan)
    assert specs and set(specs) == {"doc_id"}, specs
    # first-occurrence min(struct) runs as partial+final (map-side combine)
    assert plan.count("ObjectHashAggregate") + plan.count("SortAggregate") >= 2


def test_dedup_boilerplate_broadcast_anti_no_python(spark, sf_dir):
    """Boilerplate removal's drop step is a broadcast LEFT ANTI equi-join
    on chunk (the boilerplate set is tiny by construction, so the big side
    never shuffles for it), the distinct-doc count is a two-phase agg
    (map-side combine on (chunk, doc_id)), and the plan stays JVM-side."""
    from fao_elt_pipelines_spark.plans.queries_ml import q_dedup_boilerplate

    plan = _plan(q_dedup_boilerplate(spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "EvalPython" not in plan
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan, plan
    # the only Window is the lead() chunk assembly, partitioned by doc_id
    import re

    specs = re.findall(r"windowspecdefinition\((\w+)#", plan)
    assert specs and set(specs) == {"doc_id"}, specs


def test_dedup_minhash_incremental_keyed_joins_no_python(spark, sf_dir):
    """Every join in the incremental ingest plan is keyed — band buckets
    (band_id, band_val), doc ids, (doc, shingle) — never a cartesian
    product, and the whole path stays JVM-side."""
    from fao_elt_pipelines_spark.plans.queries_ml import q_dedup_minhash_incremental

    plan = _plan(q_dedup_minhash_incremental(spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "EvalPython" not in plan


def test_cube_single_shuffle_expand(spark, sf_dir):
    """CUBE must be ONE pass: Catalyst's Expand (4 grouping sets) feeding a
    map-side-combined aggregate over a single shuffle — never 4 scans or
    4 exchanges unioned."""
    from fao_elt_pipelines_spark.plans.queries import q_gold_cube_daily

    plan = _plan(q_gold_cube_daily(spark, sf_dir))
    assert _n_nodes(plan, "Expand") == 1, plan
    assert _n_nodes(plan, "Scan parquet") == 1, plan
    assert _n_nodes(plan, "Exchange") == 1, plan
    assert _n_nodes(plan, "HashAggregate") == 2, plan  # partial + final


# entries ALLOWED a nested-loop/cartesian: the labeled brute-force oracle
# baselines, whose small side is bounded and broadcast by design (their
# scale twins — ann_ivf_topk*, embedding_neardup_lsh* — are equi-joins)
_BRUTE_BASELINES = {"ann_cosine_topk", "embedding_neardup", "dedup_ngram_jaccard"}


def test_global_plan_hygiene_all_entries(registry_plans):
    """Every registry entry's physical plan, audited at once: no
    row-at-a-time Python (BatchEvalPython — Arrow-batched pandas UDFs are
    fine), no single-partition exchange (the scale killer), and no
    nested-loop/cartesian outside the labeled brute baselines. This is the
    regression net for every future entry, not just the ones with a
    dedicated plan test."""
    violations = {}
    for name, plan in registry_plans.items():
        flags = []
        if "BatchEvalPython" in plan:
            flags.append("row-at-a-time Python UDF")
        if "Exchange SinglePartition" in plan:
            flags.append("single-partition exchange")
        if name not in _BRUTE_BASELINES and (
            _n_nodes(plan, "CartesianProduct")
            or "BroadcastNestedLoopJoin" in plan
        ):
            flags.append("nested-loop/cartesian join")
        if flags:
            violations[name] = flags
    assert not violations, violations
