"""Docs/catalog generation — the analogue of the reference's
``dbt docs generate`` task (``orchestration/elt_pipeline.py:228-254``),
which emits a manifest (model DAG + docs) and catalog (column schemas).

Here the same two artifacts derive from the code itself: the stage DAG is
walked with the deterministic fixture, every node's OUTPUT SCHEMA is taken
from the live DataFrame (Catalyst-inferred, so docs can never drift from
the code), and every driver-contract registry query contributes its
docstring, schema, and oracle status.

    python scripts/docs_gen.py [--out docs/] [--skip-registry]

Writes ``catalog.json`` (machine-readable) and ``DOCS.md`` (rendered).
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from fao_elt_pipelines_spark.session import get_spark  # noqa: E402


def stage_nodes(spark) -> list[dict]:
    """The reference dbt DAG (ref() edges, SURVEY.md §3) re-walked over the
    fixture; one catalog node per model with live output schema."""
    from fao_elt_pipelines_spark.plans import stages as S

    bronze_p = S.fao_bronze_fixture(spark, "prices", 200)
    bronze_q = S.fao_bronze_fixture(spark, "production", 200)
    silver_p = S.silver_prices_cleaned(bronze_p)
    silver_q = S.silver_production_cleaned(bronze_q)
    dag = [
        ("bronze_raw_prices", bronze_p, [], "sql/create_schemas.sql:7-13"),
        ("bronze_raw_food_balance", bronze_q, [], "sql/create_schemas.sql:7-13"),
        ("silver_prices_cleaned", silver_p, ["bronze_raw_prices"],
         "dbt_project/models/silver/silver_prices_cleaned.sql"),
        ("silver_production_cleaned", silver_q, ["bronze_raw_food_balance"],
         "dbt_project/models/silver/silver_production_cleaned.sql"),
        ("silver_top_countries", S.silver_top_countries(silver_p, silver_q),
         ["silver_prices_cleaned", "silver_production_cleaned"],
         "dbt_project/models/silver/silver_top_countries.sql"),
        ("gold_country_metrics", S.gold_country_metrics(silver_q, silver_p),
         ["silver_prices_cleaned", "silver_production_cleaned"],
         "dbt_project/models/gold/gold_country_metrics.sql"),
        ("gold_regional_summary", S.gold_regional_summary(spark, silver_q, silver_p),
         ["silver_prices_cleaned", "silver_production_cleaned"],
         "dbt_project/models/gold/gold_regional_summary.sql"),
        ("gold_price_production_analysis",
         S.gold_price_production_analysis(silver_q, silver_p),
         ["silver_prices_cleaned", "silver_production_cleaned"],
         "dbt_project/models/gold/gold_price_production_analysis.sql"),
    ]
    nodes = []
    for name, df, deps, ref in dag:
        fn = getattr(S, name, None)
        nodes.append(
            {
                "name": name,
                "kind": "stage",
                "depends_on": deps,
                "reference": ref,
                "doc": (fn.__doc__ or "").strip().split("\n\n")[0] if fn else "",
                "columns": [
                    {"name": f.name, "type": f.dataType.simpleString()}
                    for f in df.schema.fields
                ],
            }
        )
    return nodes


def registry_nodes(spark, sf_dir: str) -> list[dict]:
    from fao_elt_pipelines_spark.plans.registry import REGISTRY

    nodes = []
    for name in sorted(REGISTRY):
        fn, sql = REGISTRY[name]
        if callable(sql):  # resolved like __spark_entry__.oracle_sql: None → rows-only
            sql = sql()
        df = fn(spark, sf_dir)
        nodes.append(
            {
                "name": name,
                "kind": "registry_query",
                "oracle": "duckdb-sql" if sql else "rows-only",
                "doc": (fn.__doc__ or "").strip(),
                "columns": [
                    {"name": f.name, "type": f.dataType.simpleString()}
                    for f in df.schema.fields
                ],
            }
        )
    return nodes


def render_md(nodes: list[dict]) -> str:
    out = [
        "# Generated docs (dbt-docs analogue)\n",
        "Schemas below are Catalyst-inferred from the live DataFrames at "
        "generation time — they cannot drift from the code. Regenerate with "
        "`python scripts/docs_gen.py`.\n",
    ]
    for kind, title in (("stage", "Stage DAG (reference dbt models)"),
                        ("registry_query", "Driver-contract registry queries")):
        out.append(f"\n## {title}\n")
        for n in [x for x in nodes if x["kind"] == kind]:
            out.append(f"\n### {n['name']}\n")
            if n.get("depends_on"):
                out.append(f"*depends on*: {', '.join(n['depends_on'])}\n")
            if n.get("reference"):
                out.append(f"*reference*: `{n['reference']}`\n")
            if n.get("oracle"):
                out.append(f"*oracle*: {n['oracle']}\n")
            if n["doc"]:
                out.append(f"\n{n['doc']}\n")
            cols = ", ".join(f"`{c['name']}:{c['type']}`" for c in n["columns"])
            out.append(f"\n*schema*: {cols}\n")
    return "".join(out)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--out", default=os.path.join(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))), "docs"))
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.001")
    ap.add_argument("--skip-registry", action="store_true",
                    help="stage DAG only (fast)")
    ap.add_argument("--cores", type=int, default=8)
    args = ap.parse_args()

    spark = get_spark("docs_gen", cores=args.cores)
    nodes = stage_nodes(spark)
    if not args.skip_registry:
        nodes += registry_nodes(spark, args.sf_dir)
    os.makedirs(args.out, exist_ok=True)
    with open(os.path.join(args.out, "catalog.json"), "w") as f:
        json.dump({"nodes": nodes}, f, indent=1)
    with open(os.path.join(args.out, "DOCS.md"), "w") as f:
        f.write(render_md(nodes))
    print(json.dumps({"nodes": len(nodes), "out": args.out}))
    from fao_elt_pipelines_spark.caching import release_caches

    release_caches()  # drop any intermediates the DAG walk registered
    spark.stop()


if __name__ == "__main__":
    main()
