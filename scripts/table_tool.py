"""Operational CLI for the lake table: inspect, time-travel, compact.

The admin-side surface a real operator needs next to the replay job —
the analogue of the reference's catalog/stats introspection
(``/root/reference/ingestion/pg_client.py:96-163``) re-expressed over
snapshot metadata.

    python scripts/table_tool.py --table /path describe
    python scripts/table_tool.py --table /path history
    python scripts/table_tool.py --table /path compact [--expire-below SEQ]
    python scripts/table_tool.py --table /path read [--snapshot K] [--limit N]
    python scripts/table_tool.py --table /path lookup --repo R --path P
    python scripts/table_tool.py --table /path scan-repos --repo R [--repo-hi R2]
    python scripts/table_tool.py --table /path mv-refresh --mv-dir /path/mv [--full]
    python scripts/table_tool.py --table /path branch staging [--reset]
    python scripts/table_tool.py --table /path tag cut-v1 --at-snapshot K
    python scripts/table_tool.py --table /path publish staging
    python scripts/table_tool.py --table /path drop-ref staging
    python scripts/table_tool.py --table /path orphans [--older-than-hours H]
    python scripts/table_tool.py --table /path read [--ref NAME] [--as-of-ms TS]

Each subcommand prints one JSON document (``read`` prints one JSON line
per row) so output is scriptable. The metadata-only subcommands
(``METADATA_CMDS``: describe, history, check, expire, refs, orphans) start
no Spark session, so they return in about a second instead of paying a
JVM start.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from fao_elt_pipelines_spark.lake.durable import TornFileError  # noqa: E402
from fao_elt_pipelines_spark.lake.table import LakeTable  # noqa: E402
from fao_elt_pipelines_spark.session import get_spark  # noqa: E402


#: Subcommands served from the metadata log and file stats alone.
METADATA_CMDS = frozenset(
    {"describe", "history", "check", "expire", "branch", "tag", "publish",
     "drop-ref", "orphans"}
)


def cmd_describe(table: LakeTable) -> dict:
    meta = table._load_metadata()
    snap = table.current_snapshot()
    manifest = snap["manifest"] if snap else []
    return {
        "table_uuid": meta["table_uuid"],
        "n_buckets": meta["n_buckets"],
        "schema": meta["schema"],
        "partition_spec": meta["partition_spec"],
        "current_snapshot_id": meta["current_snapshot_id"],
        "snapshots": len(meta["snapshots"]),
        "data_files": len(manifest),
        "delta_files": sum(1 for e in manifest if e.get("kind") == "delta"),
        "rows": sum(e["rows"] for e in manifest),
        "committed_epochs": sorted(table.committed_epochs()),
        "refs": table.refs(),
    }


def cmd_check(table: LakeTable) -> dict:
    """Metadata integrity audit, pyarrow-footer-only (no Spark jobs):
    every retained snapshot's manifest must reference existing files whose
    parquet row counts match the manifest entries; bucket directory names
    must agree with the manifest's bucket ids; the snapshot DAG must be
    well-formed (unique ids, parents either retained or expired); every
    ref must point at a retained snapshot; a torn (empty or undecodable)
    VERSION, metadata or manifest file is reported as an issue. The cheap
    invariant sweep an operator runs before trusting a table after an
    incident."""
    import pyarrow.parquet as pq

    try:
        meta = table._load_metadata()
    except TornFileError as e:
        return {"ok": False, "snapshots": 0, "files_checked": 0, "issues": [str(e)]}
    issues: list[str] = []
    ids = [s["snapshot_id"] for s in meta["snapshots"]]
    if len(ids) != len(set(ids)):
        issues.append("duplicate snapshot ids in log")
    id_set = set(ids)
    # missing parents are LEGAL (expiry cuts chains; tags can pin mid-log
    # snapshots whose neighbors expired) — only dangling refs, files, and
    # count mismatches are corruption
    for name, r in table.refs().items():
        if r["snapshot_id"] is not None and r["snapshot_id"] not in id_set:
            issues.append(f"ref {name!r} points at missing snapshot {r['snapshot_id']}")
    checked_files = 0
    seen_paths: set[str] = set()
    for s in meta["snapshots"]:
        try:
            entries = s["manifest"]
        except TornFileError as err:
            issues.append(f"snapshot {s['snapshot_id']}: {err}")
            continue
        for e in entries:
            if e["path"] in seen_paths:
                continue
            seen_paths.add(e["path"])
            if not os.path.exists(e["path"]):
                issues.append(f"snapshot {s['snapshot_id']}: missing file {e['path']}")
                continue
            checked_files += 1
            md = pq.ParquetFile(e["path"]).metadata
            if md.num_rows != e["rows"]:
                issues.append(
                    f"{e['path']}: manifest rows {e['rows']} != parquet {md.num_rows}"
                )
            bdir = os.path.basename(os.path.dirname(e["path"]))
            if bdir.startswith("_bucket=") and int(bdir.split("=")[1]) != e["bucket"]:
                issues.append(f"{e['path']}: bucket dir {bdir} != manifest bucket {e['bucket']}")
    cur = meta["current_snapshot_id"]
    if cur is not None and cur not in id_set:
        issues.append(f"current_snapshot_id {cur} not in log")
    return {
        "ok": not issues,
        "snapshots": len(ids),
        "files_checked": checked_files,
        "issues": issues,
    }


def cmd_history(table: LakeTable) -> list[dict]:
    return [
        {
            "snapshot_id": s["snapshot_id"],
            "parent_id": s["parent_id"],
            "timestamp_ms": s["timestamp_ms"],
            "operation": s["operation"],
            "epoch_id": s["epoch_id"],
            "files": len(s["manifest"]),
            "summary": s["summary"],
        }
        for s in table.snapshots()
    ]


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--table", required=True)
    ap.add_argument("--cores", type=int, default=4)
    sub = ap.add_subparsers(dest="cmd", required=True)
    sub.add_parser("describe")
    sub.add_parser("history")
    sub.add_parser("check")
    p_compact = sub.add_parser("compact")
    p_compact.add_argument("--expire-below", type=int, default=None)
    p_read = sub.add_parser("read")
    p_read.add_argument("--snapshot", type=int, default=None)
    p_read.add_argument("--ref", default="main", help="branch or tag name")
    p_read.add_argument("--as-of-ms", type=int, default=None,
                        help="latest snapshot at or before this wall-clock ms")
    p_read.add_argument("--limit", type=int, default=20)
    p_exp = sub.add_parser("expire")
    p_exp.add_argument("--keep-last", type=int, default=2)
    p_exp.add_argument("--older-than-hours", type=float, default=None,
                       help="age-based retention: snapshots younger than this "
                       "survive regardless of --keep-last")
    p_lk = sub.add_parser("lookup")
    p_lk.add_argument("--repo", required=True)
    p_lk.add_argument("--path", required=True)
    p_sc = sub.add_parser("scan-repos")
    p_sc.add_argument("--repo", required=True, help="repo, or range lower bound")
    p_sc.add_argument("--repo-hi", default=None, help="range upper bound (inclusive)")
    p_sc.add_argument("--limit", type=int, default=20)
    p_mv = sub.add_parser("mv-refresh")
    p_mv.add_argument("--mv-dir", required=True)
    p_mv.add_argument("--full", action="store_true")
    p_rb = sub.add_parser("rebucket")
    p_rb.add_argument("--n-buckets", type=int, required=True)
    p_cl = sub.add_parser("cluster", help="rewrite base files z-ordered (or "
                          "linear) on the given columns; records per-file "
                          "bounds for scan-where pruning")
    p_cl.add_argument("--cols", required=True, help="comma-separated columns")
    p_cl.add_argument("--strategy", default="zorder", choices=["zorder", "linear"])
    p_cl.add_argument("--bins", type=int, default=1024)
    p_bl = sub.add_parser("build-blooms", help="build per-file Bloom "
                          "sidecars for point-lookup pruning in scan-where "
                          "(incremental: covered files skip)")
    p_bl.add_argument("--cols", required=True, help="comma-separated columns")
    p_bl.add_argument("--m-bits", type=int, default=None,
                      help="bits per filter (power of two; ~16 per distinct "
                      "key per file)")
    p_bl.add_argument("--force", action="store_true",
                      help="rebuild every base file regardless of coverage "
                      "(re-spec path: newer sidecar rows supersede)")
    p_bl.add_argument("--tokens", action="store_true",
                      help="token mode: index identifier tokens of the "
                      "column's text for `grep` instead of whole values")
    p_gr = sub.add_parser("grep", help="distributed grep: rows whose column "
                          "contains an identifier token, reading only files "
                          "whose token bloom may contain it")
    p_gr.add_argument("--col", required=True)
    p_gr.add_argument("--token", required=True, action="append",
                      help="repeatable: multiple tokens AND together")
    p_gr.add_argument("--snapshot", type=int, default=None)
    p_gr.add_argument("--limit", type=int, default=20)
    p_sw = sub.add_parser("scan-where", help="stats-pruned range scan: "
                          "--where col:lo:hi (repeatable; lo == hi is a "
                          "point probe and consults Bloom sidecars if built)")
    p_sw.add_argument("--where", action="append", required=True,
                      metavar="COL:LO:HI")
    p_sw.add_argument("--snapshot", type=int, default=None)
    p_sw.add_argument("--limit", type=int, default=20)
    p_chg = sub.add_parser("changes")
    p_chg.add_argument("--from-snapshot", type=int, default=None)
    p_chg.add_argument("--to-snapshot", type=int, default=None)
    p_chg.add_argument("--limit", type=int, default=20)
    p_rc = sub.add_parser("row-changes", help="row-level changelog (CDC emit): "
                          "insert/delete/update pre+post images per changed key")
    p_rc.add_argument("--from-snapshot", type=int, default=None)
    p_rc.add_argument("--to-snapshot", type=int, default=None)
    p_rc.add_argument("--limit", type=int, default=20)
    p_mir = sub.add_parser("mirror", help="advance a target table to this "
                           "table's state by consuming its changelog; "
                           "exactly-once via the cursor checkpoint + the "
                           "target's committed-epoch skip")
    p_mir.add_argument("--target", required=True)
    p_mir.add_argument("--cursor", required=True, help="checkpoint JSON path "
                       "holding the mirror's consumed-snapshot cursor")
    p_mir.add_argument("--mode", default="mor", choices=["cow", "mor"])
    p_br = sub.add_parser("branch")
    p_br.add_argument("name")
    p_br.add_argument("--at-snapshot", type=int, default=None)
    p_br.add_argument("--reset", action="store_true")
    p_tag = sub.add_parser("tag")
    p_tag.add_argument("name")
    p_tag.add_argument("--at-snapshot", type=int, default=None)
    p_pub = sub.add_parser("publish")
    p_pub.add_argument("branch")
    p_drop = sub.add_parser("drop-ref")
    p_drop.add_argument("name")
    p_sql = sub.add_parser("sql", help="ad-hoc spark.sql over the table "
                           "registered as a temp view (SURVEY §3.3: the "
                           "reference's sample_queries.sql-through-psql "
                           "surface)")
    p_sql.add_argument("statement", nargs="?", default=None,
                       help="one SQL statement; or use --file")
    p_sql.add_argument("--file", default=None,
                       help="SQL script; ;-separated statements run in order")
    p_sql.add_argument("--view-name", default="state",
                       help="temp view name for the table (default: state)")
    p_sql.add_argument("--snapshot", type=int, default=None)
    p_sql.add_argument("--ref", default="main")
    p_sql.add_argument("--as-of-ms", type=int, default=None)
    p_sql.add_argument("--extra-table", action="append", default=[],
                       metavar="NAME=PATH",
                       help="register another lake table as view NAME")
    p_sql.add_argument("--parquet", action="append", default=[],
                       metavar="NAME=PATH",
                       help="register a parquet dataset as view NAME")
    p_sql.add_argument("--limit", type=int, default=1000,
                       help="max rows printed per statement")
    p_gc = sub.add_parser("orphans")
    p_gc.add_argument("--older-than-hours", type=float, default=24.0,
                      help="safety horizon; unreferenced files younger than "
                      "this are kept (in-flight writers)")
    args = ap.parse_args()

    # metadata-only subcommands read and CAS the table's JSON metadata and
    # stat files; they never build a DataFrame, so they start no JVM
    spark = None if args.cmd in METADATA_CMDS else get_spark("table_tool", cores=args.cores)
    table = LakeTable(spark, args.table)
    if args.cmd == "describe":
        print(json.dumps(cmd_describe(table)))
    elif args.cmd == "check":
        print(json.dumps(cmd_check(table)))
    elif args.cmd == "history":
        print(json.dumps(cmd_history(table)))
    elif args.cmd == "compact":
        sid = table.compact(expire_tombstones_below=args.expire_below)
        print(json.dumps({"compacted_snapshot_id": sid}))
    elif args.cmd == "read":
        df = table.read(snapshot_id=args.snapshot, ref=args.ref, as_of_ms=args.as_of_ms)
        for row in df.limit(args.limit).toJSON().collect():
            print(row)
    elif args.cmd == "lookup":
        for row in table.lookup(args.repo, args.path).toJSON().collect():
            print(row)
    elif args.cmd == "scan-repos":
        df = table.scan_repos(args.repo, args.repo_hi)
        for row in df.limit(args.limit).toJSON().collect():
            print(row)
    elif args.cmd == "mv-refresh":
        from fao_elt_pipelines_spark.lake.mv import IncrementalGoldView

        view = IncrementalGoldView(spark, table, args.mv_dir)
        print(json.dumps(view.refresh(full=args.full)))
    elif args.cmd == "rebucket":
        sid = table.rebucket(args.n_buckets)
        print(json.dumps({"rebucket_snapshot_id": sid, "n_buckets": args.n_buckets}))
    elif args.cmd == "cluster":
        cols = [c.strip() for c in args.cols.split(",") if c.strip()]
        sid = table.cluster(cols, bins=args.bins, strategy=args.strategy)
        print(json.dumps({"cluster_snapshot_id": sid, "cols": cols,
                          "strategy": args.strategy}))
    elif args.cmd == "build-blooms":
        cols = [c.strip() for c in args.cols.split(",") if c.strip()]
        n = table.build_blooms(cols, m_bits=args.m_bits,
                               mode="tokens" if args.tokens else "value",
                               force=args.force)
        print(json.dumps({"bloom_rows_built": n, "cols": cols,
                          "sidecars": table._load_metadata().get(
                              "bloom_sidecars", [])}))
    elif args.cmd == "scan-where":
        def coerce(s):
            # manifest stats are typed (int last_seq, str repo); comparing
            # a str bound against int stats raises — sniff numerics
            if not s:
                return None
            for cast in (int, float):
                try:
                    return cast(s)
                except ValueError:
                    continue
            return s

        bounds = {}
        for spec in args.where:
            col, lo, hi = spec.split(":", 2)
            bounds[col] = (coerce(lo), coerce(hi))
        df, pruned, total = table.scan_where(bounds, with_stats=True,
                                             snapshot_id=args.snapshot)
        rows = [r.asDict() for r in df.limit(args.limit).collect()]
        print(json.dumps({"files_pruned": pruned, "files_total": total,
                          "rows": rows}, default=str))
    elif args.cmd == "grep":
        toks = args.token if len(args.token) > 1 else args.token[0]
        df, pruned, total = table.scan_contains(args.col, toks,
                                                with_stats=True,
                                                snapshot_id=args.snapshot)
        rows = [r.asDict() for r in df.limit(args.limit).collect()]
        print(json.dumps({"files_pruned": pruned, "files_total": total,
                          "rows": rows}, default=str))
    elif args.cmd == "expire":
        print(json.dumps(table.expire_snapshots(
            keep_last=args.keep_last,
            older_than_ms=None if args.older_than_hours is None
            else int(args.older_than_hours * 3600 * 1000),
        )))
    elif args.cmd == "changes":
        df = table.changes_between(args.from_snapshot, args.to_snapshot)
        for row in df.limit(args.limit).toJSON().collect():
            print(row)
    elif args.cmd == "row-changes":
        from fao_elt_pipelines_spark.lake.changelog import row_changes

        df = row_changes(table, args.from_snapshot, args.to_snapshot)
        for row in df.limit(args.limit).toJSON().collect():
            print(row)
    elif args.cmd == "mirror":
        from fao_elt_pipelines_spark.lake.changelog import replicate
        from fao_elt_pipelines_spark.lake.checkpoint import CheckpointStore

        if not LakeTable.exists(args.target):
            tgt = LakeTable.create(
                spark, args.target, table.schema(),
                n_buckets=table._load_metadata()["n_buckets"],
            )
        else:
            tgt = LakeTable(spark, args.target)
        print(json.dumps(replicate(table, tgt, CheckpointStore(args.cursor),
                                   mode=args.mode)))
    elif args.cmd == "branch":
        table.create_branch(args.name, at_snapshot_id=args.at_snapshot, reset=args.reset)
        print(json.dumps({"ref": args.name, **table.refs()[args.name]}))
    elif args.cmd == "tag":
        table.create_tag(args.name, at_snapshot_id=args.at_snapshot)
        print(json.dumps({"ref": args.name, **table.refs()[args.name]}))
    elif args.cmd == "publish":
        head = table.publish(args.branch)
        print(json.dumps({"published_snapshot_id": head}))
    elif args.cmd == "drop-ref":
        table.drop_ref(args.name)
        print(json.dumps({"dropped": args.name}))
    elif args.cmd == "sql":
        from fao_elt_pipelines_spark.lake import sql_surface as S

        S.register_table_view(table, args.view_name, snapshot_id=args.snapshot,
                              ref=args.ref, as_of_ms=args.as_of_ms)
        def _name_path(spec: str, flag: str) -> tuple[str, str]:
            name, sep, path = spec.partition("=")
            if not sep or not name or not path:
                raise SystemExit(f"{flag}: expected NAME=PATH, got {spec!r}")
            return name, path

        for spec in args.extra_table:
            name, path = _name_path(spec, "--extra-table")
            S.register_table_view(LakeTable(spark, path), name)
        for spec in args.parquet:
            name, path = _name_path(spec, "--parquet")
            S.register_parquet_view(spark, path, name)
        if (args.statement is None) == (args.file is None):
            raise SystemExit("sql: pass exactly one of <statement> or --file")
        text = args.statement if args.statement is not None else open(args.file).read()
        for i, (stmt, df) in enumerate(S.run_statements(spark, text)):
            print(json.dumps({"statement_index": i, "statement": stmt,
                              "columns": df.columns}))
            for row in df.limit(args.limit).toJSON().collect():
                print(row)
    elif args.cmd == "orphans":
        out = table.remove_orphan_files(older_than_ms=int(args.older_than_hours * 3600 * 1000))
        print(json.dumps(out))
    if spark is not None:
        spark.stop()


if __name__ == "__main__":
    main()
