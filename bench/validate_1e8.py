"""End-to-end 10^8-event validation: replay + independent DuckDB oracle.

Runs the real spark-submit surface (scripts/replay_job.py) on a generated
10^8-event binlog, then verifies the final lake state against an
INDEPENDENT engine: DuckDB computes the LWW winners (``max_by`` per
(repo, path), delete-wins-drop) straight from the binlog parquet and the
result is compared to the Spark-read table state on

- per-repo (row count, sum(last_seq)) for ALL repos, and
- an exact (commit, lang, content_sha256, last_seq) tuple-hash over the
  deterministic ``last_seq % 997 == 0`` sample.

Earlier rounds ran this check ad hoc (BENCH/BASELINE.md "10^8-event
end-to-end validation"); this script makes it a committed, repeatable
artifact — round 3 re-runs it with the sorted-merge default,
per-snapshot manifest files, and the size-based (delta-ratio)
compaction trigger all active at scale.

Artifact: BENCH/validate_1e8.json (plus _wap / _bootstrap / _mirror
variants per arm flag).
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--events", type=int, default=100_000_000)
    ap.add_argument("--epochs", type=int, default=10)
    ap.add_argument("--cores", type=int, default=8)
    ap.add_argument("--n-repos", type=int, default=10_000)
    ap.add_argument("--workdir", default="/tmp/validate_1e8")
    ap.add_argument("--keep", action="store_true", help="keep workdir after the run")
    ap.add_argument(
        "--wap", action="store_true",
        help="route every epoch through write-audit-publish (staging "
        "branch + summary audits + fast-forward publish) — validates the "
        "gate at 10^8 scale; artifact goes to validate_1e8_wap.json",
    )
    ap.add_argument(
        "--mirror", action="store_true",
        help="exercise the changelog fan-out at 10^8 scale: replay in "
        "three slices, advancing a second table after each via "
        "table_tool mirror (one initial-load interval + two incremental "
        "intervals spanning updates, deletes, and interleaved "
        "compactions); the MIRROR is then held to the same per-repo and "
        "sample-hash oracle checks as the source, and a final mirror "
        "call must report noop. Artifact goes to validate_1e8_mirror.json",
    )
    ap.add_argument(
        "--bootstrap", action="store_true",
        help="two-phase start at 10^8 scale: DuckDB computes the "
        "consistent source snapshot at the mid-stream watermark "
        "(events/2 - 1), the table bootstraps from it, and replay tails "
        "only the binlog above it; the oracle checks are unchanged — the "
        "handoff must converge to the same final state. Artifact goes to "
        "validate_1e8_bootstrap.json",
    )
    ap.add_argument(
        "--content-reps", type=int, default=None,
        help="pin generated content size (1 rep = 50 chars); the 10^9 arm "
        "uses 1 to fit binlog + table history on one box's disk",
    )
    ap.add_argument(
        "--gc-slices", type=int, default=0,
        help="replay in this many slices, running snapshot expiry + orphan "
        "file GC between slices — bounds the table directory to ~live-state "
        "size instead of every superseded version (the retention policy a "
        "long-running 10^9+ ingest needs anyway). 0 = single uninterrupted "
        "run",
    )
    ap.add_argument(
        "--gen-slices", type=int, default=0,
        help="generate-replay-DELETE mode for scales whose binlog would "
        "not fit on disk (the 10^10 path): the logical stream is "
        "generated in this many epoch-aligned seq slices (binlog.py "
        "start_seq — bit-identical to slicing a whole-stream "
        "generation), each slice is replayed, folded into an "
        "incrementally-maintained DuckDB winners table (the independent "
        "oracle, updated BEFORE the slice is deleted), snapshot-expired "
        "+ orphan-GC'd, and its binlog removed — peak disk is one slice "
        "+ live state instead of the whole stream. 0 = off",
    )
    ap.add_argument(
        "--reuse-binlog", action="store_true",
        help="keep an already-generated binlog in the workdir and replay "
        "it onto a fresh table (state/checkpoint/mv are wiped) — for "
        "re-validating after a harness fix without paying the multi-hour "
        "10^9 generation again; wall/events_per_sec then cover replay + "
        "verify only (generation excluded), recorded in the artifact",
    )
    args = ap.parse_args()
    if args.mirror and (args.wap or args.bootstrap):
        raise SystemExit("--mirror is its own arm; do not combine")
    if args.gc_slices and (args.mirror or args.wap or args.bootstrap):
        raise SystemExit("--gc-slices is the plain arm's disk-bound mode; do not combine")
    if args.gen_slices:
        if args.mirror or args.wap or args.bootstrap or args.gc_slices or args.reuse_binlog:
            raise SystemExit("--gen-slices is its own disk-bound arm; do not combine")
        if args.events % args.gen_slices:
            raise SystemExit("--gen-slices must divide --events")
        if (args.events // args.gen_slices) % (args.events // args.epochs):
            raise SystemExit("slice size must be a whole number of epochs")

    binlog = os.path.join(args.workdir, "binlog")
    table = os.path.join(args.workdir, "state")
    if args.reuse_binlog and os.path.exists(os.path.join(binlog, "_SUCCESS")):
        for sub in ("state", "mv", "ckpt.json", "duck_spill",
                    "mirror_state", "mirror_cursor.json", "snapshot.parquet"):
            p = os.path.join(args.workdir, sub)
            shutil.rmtree(p, ignore_errors=True)
            if os.path.isfile(p):
                os.remove(p)
    else:
        shutil.rmtree(args.workdir, ignore_errors=True)
    os.makedirs(args.workdir, exist_ok=True)

    t0 = time.time()
    base_cmd = [
        sys.executable, os.path.join(REPO, "scripts", "replay_job.py"),
        "--binlog", binlog,
        "--table", table,
        "--checkpoint", os.path.join(args.workdir, "ckpt.json"),
        "--generate", str(args.events),
        "--events-per-epoch", str(args.events // args.epochs),
        "--n-repos", str(args.n_repos),
        "--n-buckets", "64",
        "--cores", str(args.cores),
        "--mode", "mor",
        "--compact-delta-ratio", "0.25",  # round-3 size-based trigger
        "--profile", "bandwidth",
        "--mv-dir", os.path.join(args.workdir, "mv"),
        *(["--content-reps", str(args.content_reps)]
          if args.content_reps is not None else []),
        *(
            ["--wap", "--wap-min-rows", "1", "--wap-max-quarantine-ratio", "0.5"]
            if args.wap
            else []
        ),
    ]
    boot_extra: list[str] = []
    if args.bootstrap:
        # Phase 0: generate the binlog only (no epochs applied), then let
        # DuckDB — the independent engine — build the consistent snapshot
        # at the mid-stream watermark, exactly what a production export
        # at a known log position provides.
        gen = subprocess.run(
            base_cmd[:base_cmd.index("--mode")] + ["--max-epochs", "0"],
            capture_output=True, text=True, cwd=REPO,
        )
        if gen.returncode != 0:
            sys.stderr.write(gen.stderr[-4000:])
            raise SystemExit(f"binlog generation failed rc={gen.returncode}")
        wm = args.events // 2 - 1
        snap_path = os.path.join(args.workdir, "snapshot.parquet")
        import duckdb as _duck

        c = _duck.connect()
        c.execute(f"SET threads={args.cores}")
        c.execute(
            f"""
            COPY (
              SELECT repo, path, commit, lang, content, seq AS src_seq
              FROM (
                SELECT *, row_number() OVER (
                  PARTITION BY repo, path ORDER BY seq DESC) AS rn
                FROM read_parquet('{binlog}/epoch=*/*.parquet', hive_partitioning=1)
                WHERE seq <= {wm}
              ) WHERE rn = 1 AND op <> 'delete'
            ) TO '{snap_path}' (FORMAT PARQUET)
            """
        )
        c.close()
        boot_extra = [
            "--bootstrap-snapshot", snap_path,
            "--bootstrap-watermark", str(wm),
            "--bootstrap-seq-col", "src_seq",
        ]
        t0 = time.time()  # the validated phase is bootstrap + tail

    mirror_table = os.path.join(args.workdir, "mirror_state")
    mirror_cursor = os.path.join(args.workdir, "mirror_cursor.json")

    def mirror_step() -> dict:
        mp = subprocess.run(
            [sys.executable, os.path.join(REPO, "scripts", "table_tool.py"),
             "--table", table, "--cores", str(args.cores),
             "mirror", "--target", mirror_table, "--cursor", mirror_cursor],
            capture_output=True, text=True, cwd=REPO,
        )
        if mp.returncode != 0:
            sys.stderr.write(mp.stderr[-4000:])
            raise SystemExit(f"mirror step failed rc={mp.returncode}")
        return json.loads(mp.stdout.strip().splitlines()[-1])

    mirror_runs: list[dict] = []
    mirror_final_noop = None
    if args.mirror:
        # Three slices — the first mirror consumes an initial-load
        # interval (from=None, insert-all), the next two consume true
        # incremental intervals whose changelogs span inserts, updates,
        # deletes, and any compaction snapshots the delta-ratio trigger
        # interleaved. The checkpoint carries the replay across slices.
        third = args.epochs // 3
        for cap in (args.epochs - 2 * third, third, third):
            proc = subprocess.run(
                base_cmd + ["--max-epochs", str(cap)],
                capture_output=True, text=True, cwd=REPO,
            )
            if proc.returncode != 0:
                sys.stderr.write(proc.stderr[-4000:])
                raise SystemExit(f"replay slice failed rc={proc.returncode}")
            replay = json.loads(proc.stdout.strip().splitlines()[-1])
            mirror_runs.append({"replay": replay, "mirror": mirror_step()})
        mirror_final_noop = mirror_step()  # exactly-once: nothing new
    elif args.gen_slices:
        # generate-replay-delete: never more than one slice's binlog on
        # disk. The oracle winners table is folded forward BEFORE each
        # slice is deleted — same two-phase LWW shape as the full-binlog
        # oracle below, just applied incrementally (prev winners rows
        # join the fold as ordinary events at their last_seq; seq is
        # globally unique so the max/join-back is unambiguous).
        import duckdb as _duck

        winners_path = os.path.join(args.workdir, "oracle_winners.parquet")
        spill = os.path.join(args.workdir, "duck_spill")
        os.makedirs(spill, exist_ok=True)
        _ram_gb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") / 2**30

        def oracle_fold(slice_binlog: str) -> None:
            c = _duck.connect()
            try:
                c.execute(f"SET threads={args.cores}")
                c.execute(f"SET temp_directory='{spill}'")
                c.execute(f"SET memory_limit='{max(1, int(_ram_gb * 0.6))}GB'")
                prev = (
                    f'UNION ALL SELECT repo, path, op, "commit", lang, content, '
                    f"last_seq AS seq FROM read_parquet('{winners_path}')"
                    if os.path.exists(winners_path)
                    else ""
                )
                c.execute(
                    f"""
                    CREATE TEMP VIEW allrows AS
                    SELECT repo, path, op, "commit", lang, content, seq
                    FROM read_parquet('{slice_binlog}/epoch=*/*.parquet',
                                      hive_partitioning=1)
                    {prev}
                    """
                )
                c.execute(
                    """
                    CREATE TEMP TABLE ls AS
                    SELECT repo, path, max(seq) AS last_seq
                    FROM allrows GROUP BY repo, path
                    """
                )
                c.execute(
                    f"""
                    COPY (
                      SELECT a.repo, a.path, a.op, a."commit", a.lang,
                             a.content, a.seq AS last_seq
                      FROM allrows a
                      JOIN ls w ON a.repo = w.repo AND a.path = w.path
                                AND a.seq = w.last_seq
                    ) TO '{winners_path}.next' (FORMAT PARQUET)
                    """
                )
            finally:
                c.close()
            if os.path.exists(winners_path):
                os.remove(winners_path)
            os.replace(winners_path + ".next", winners_path)

        def gc_step() -> None:
            for sub_cmd in (["expire", "--keep-last", "2"],
                            ["orphans", "--older-than-hours", "0"]):
                gp = subprocess.run(
                    [sys.executable, os.path.join(REPO, "scripts", "table_tool.py"),
                     "--table", table, "--cores", str(args.cores), *sub_cmd],
                    capture_output=True, text=True, cwd=REPO,
                )
                if gp.returncode != 0:
                    sys.stderr.write(gp.stderr[-4000:])
                    raise SystemExit(f"gc step {sub_cmd[0]} failed rc={gp.returncode}")

        per_slice_events = args.events // args.gen_slices
        gi = base_cmd.index("--generate")
        replay = None
        applied_all: list[int] = []
        events_in_total = 0
        replay_secs = 0.0
        slice_walls: list[float] = []
        for s in range(args.gen_slices):
            ts = time.time()
            slice_cmd = list(base_cmd)
            slice_cmd[gi + 1] = str(per_slice_events)
            slice_cmd += ["--generate-start", str(s * per_slice_events)]
            proc = subprocess.run(
                slice_cmd, capture_output=True, text=True, cwd=REPO
            )
            if proc.returncode != 0:
                sys.stderr.write(proc.stderr[-4000:])
                raise SystemExit(f"gen-slice {s} replay failed rc={proc.returncode}")
            replay = json.loads(proc.stdout.strip().splitlines()[-1])
            applied_all.extend(replay["epochs_applied"])
            events_in_total += replay["events_in"]
            if replay["events_in"]:
                replay_secs += replay["events_in"] / replay["events_per_sec"]
            oracle_fold(binlog)
            gc_step()
            shutil.rmtree(binlog, ignore_errors=True)
            slice_walls.append(round(time.time() - ts, 1))
        replay["epochs_applied"] = applied_all
        replay["events_in"] = events_in_total
        replay["events_per_sec"] = (
            round(events_in_total / replay_secs, 1) if replay_secs else 0.0
        )
        replay["gen_slices"] = args.gen_slices
        replay["slice_walls_sec"] = slice_walls
    elif args.gc_slices:
        # disk-bound mode: replay in slices, expiring superseded snapshots
        # and deleting their orphaned files between slices so the table
        # dir holds ~live state, not the full version history. Retention
        # keeps the last 2 snapshots — the checkpoint plus committed-epoch
        # markers preserve exactly-once across the expiry.
        def gc_step() -> None:
            for sub_cmd in (["expire", "--keep-last", "2"],
                            ["orphans", "--older-than-hours", "0"]):
                gp = subprocess.run(
                    [sys.executable, os.path.join(REPO, "scripts", "table_tool.py"),
                     "--table", table, "--cores", str(args.cores), *sub_cmd],
                    capture_output=True, text=True, cwd=REPO,
                )
                if gp.returncode != 0:
                    sys.stderr.write(gp.stderr[-4000:])
                    raise SystemExit(f"gc step {sub_cmd[0]} failed rc={gp.returncode}")
        per_slice = -(-args.epochs // args.gc_slices)
        replay = None
        applied_all: list[int] = []
        events_in_total = 0
        replay_secs = 0.0
        while True:
            proc = subprocess.run(
                base_cmd + ["--max-epochs", str(per_slice)],
                capture_output=True, text=True, cwd=REPO,
            )
            if proc.returncode != 0:
                sys.stderr.write(proc.stderr[-4000:])
                raise SystemExit(f"replay slice failed rc={proc.returncode}")
            replay = json.loads(proc.stdout.strip().splitlines()[-1])
            applied_all.extend(replay["epochs_applied"])
            events_in_total += replay["events_in"]
            if replay["events_in"]:
                replay_secs += replay["events_in"] / replay["events_per_sec"]
            if not replay["epochs_applied"]:
                break
            gc_step()
        replay["epochs_applied"] = applied_all
        replay["events_in"] = events_in_total
        # replay-phase rate across slices (generation + GC excluded, like
        # the single-run arm whose rate comes from replay_job's own timer)
        replay["events_per_sec"] = (
            round(events_in_total / replay_secs, 1) if replay_secs else 0.0
        )
        replay["gc_slices"] = args.gc_slices
    else:
        proc = subprocess.run(
            base_cmd + boot_extra, capture_output=True, text=True, cwd=REPO
        )
        if proc.returncode != 0:
            sys.stderr.write(proc.stderr[-4000:])
            raise SystemExit(f"replay failed rc={proc.returncode}")
        replay = json.loads(proc.stdout.strip().splitlines()[-1])
    wall = time.time() - t0

    # ---- engine state → per-repo aggregates + sample hash (Spark read:
    # the only reader that understands MOR deltas/tombstones)
    from fao_elt_pipelines_spark.lake.mv import IncrementalGoldView
    from fao_elt_pipelines_spark.lake.table import LakeTable
    from fao_elt_pipelines_spark.session import get_spark

    spark = get_spark(cores=args.cores)
    from pyspark.sql import functions as F

    def engine_frames(path: str):
        state = LakeTable(spark, path).read()
        per_repo = (
            state.groupBy("repo")
            .agg(F.count("*").alias("rows"), F.sum("last_seq").alias("sum_seq"))
            .toPandas()
            .sort_values("repo")
            .reset_index(drop=True)
        )
        sample = (
            state.filter(F.col("last_seq") % 997 == 0)
            .select(
                F.sha2(
                    F.concat_ws("|", "repo", "path", "commit", "lang",
                                "content_sha256", F.col("last_seq").cast("string")),
                    256,
                ).alias("h")
            )
            .toPandas()["h"]
            .sort_values()
            .tolist()
        )
        return per_repo, sample

    eng_repo, eng_sample = engine_frames(table)
    mir_repo, mir_sample = engine_frames(mirror_table) if args.mirror else (None, None)
    spark.stop()

    # ---- independent oracle: DuckDB LWW straight from the binlog
    import duckdb

    con = duckdb.connect()
    con.execute(f"SET threads={args.cores}")
    # Bound the oracle's memory and give it somewhere to spill: the 10^9
    # arm OOM-killed the box's first attempt because a one-pass
    # max_by(content, seq) over 1e9 rows keeps every overwritten string
    # in the aggregate arena (~127 GB observed). The scalable form is the
    # same two-phase shape the engine itself uses: a fixed-size-state
    # max(seq) per key, then a join back to the binlog to fetch exactly
    # the winning rows (seq is globally unique, so the join is 1:1 and
    # the probe side streams).
    os.makedirs(os.path.join(args.workdir, "duck_spill"), exist_ok=True)
    con.execute(f"SET temp_directory='{os.path.join(args.workdir, 'duck_spill')}'")
    # cap at 60% of physical RAM (a fixed figure could exceed a smaller
    # box's memory and re-enable the OOM-kill the spill dir prevents)
    ram_gb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") / 2**30
    con.execute(f"SET memory_limit='{max(1, int(ram_gb * 0.6))}GB'")
    if args.gen_slices:
        # winners were folded incrementally, slice by slice, before each
        # slice binlog was deleted — the full binlog no longer exists
        con.execute(
            f"""
            CREATE TEMP VIEW winners AS
            SELECT * FROM read_parquet(
                '{os.path.join(args.workdir, "oracle_winners.parquet")}')
            """
        )
    else:
        con.execute(
            f"""
            CREATE TEMP TABLE last_seqs AS
            SELECT repo, path, max(seq) AS last_seq
            FROM read_parquet('{binlog}/epoch=*/*.parquet', hive_partitioning=1)
            GROUP BY repo, path
            """
        )
        con.execute(
            f"""
            CREATE TEMP TABLE winners AS
            SELECT b.repo, b.path, b.op, b.commit, b.lang, b.content,
                   b.seq AS last_seq
            FROM read_parquet('{binlog}/epoch=*/*.parquet', hive_partitioning=1) b
            JOIN last_seqs w
              ON b.repo = w.repo AND b.path = w.path AND b.seq = w.last_seq
            """
        )
    ora_repo = con.execute(
        """
        SELECT repo, count(*) AS rows, sum(last_seq) AS sum_seq
        FROM winners WHERE op <> 'delete'
        GROUP BY repo ORDER BY repo
        """
    ).df()
    ora_sample = sorted(
        r[0]
        for r in con.execute(
            """
            SELECT sha256(repo || '|' || path || '|' || commit || '|' || lang
                          || '|' || sha256(content) || '|' || CAST(last_seq AS VARCHAR))
            FROM winners WHERE op <> 'delete' AND last_seq % 997 = 0
            """
        ).fetchall()
    )

    # ---- MV check: the gold view replay_job maintained must match the
    # oracle's per-repo (live paths, byte totals) exactly
    # cursor() reads only the state dir's markers: no Spark, no table
    mv_dir = os.path.join(args.workdir, "mv")
    mv_cur = IncrementalGoldView(None, None, mv_dir).cursor()
    mv_match = bool(
        con.execute(
            f"""
            WITH ora AS (
              SELECT repo, count(*) AS n_paths,
                     CAST(sum(strlen(content)) AS BIGINT) AS total_bytes
              FROM winners WHERE op <> 'delete' GROUP BY repo
            ),
            mv AS (SELECT repo, n_paths, total_bytes
                   FROM read_parquet('{os.path.join(mv_dir, mv_cur["dir"])}/*.parquet'))
            SELECT (SELECT count(*) FROM (SELECT * FROM ora EXCEPT SELECT * FROM mv)) = 0
               AND (SELECT count(*) FROM (SELECT * FROM mv EXCEPT SELECT * FROM ora)) = 0
            """
        ).fetchone()[0]
    )

    def per_repo_matches(frame) -> bool:
        return (
            len(frame) == len(ora_repo)
            and (frame["repo"].values == ora_repo["repo"].values).all()
            and (frame["rows"].astype(int).values == ora_repo["rows"].astype(int).values).all()
            and (frame["sum_seq"].astype(int).values == ora_repo["sum_seq"].astype(int).values).all()
        )

    repo_match = per_repo_matches(eng_repo)
    sample_match = eng_sample == ora_sample

    # exact scale labels only: a 5e8 run must not claim (and overwrite)
    # the 1e9 artifact; non-powers-of-ten get their literal event count
    exp = round(math.log10(args.events)) if args.events > 0 else 0
    scale = f"1e{exp}" if args.events == 10 ** exp else str(args.events)
    out = {
        "metric": f"validate_{scale}",
        "events": args.events,
        "epochs": args.epochs,
        "cores": args.cores,
        "mode": "mor+sorted-default+delta-ratio-compaction"
        + ("+wap" if args.wap else "")
        + ("+bootstrap" if args.bootstrap else "")
        + ("+mirror" if args.mirror else ""),
        "replay": replay,
        "end_to_end_wall_sec": round(wall, 1),
        "end_to_end_events_per_sec": round(args.events / wall, 1),
        "repos_compared": int(len(eng_repo)),
        "per_repo_match": bool(repo_match),
        "sample_rows": len(eng_sample),
        "sample_hash_match": bool(sample_match),
        "mv_match": mv_match,
        "pass": bool(repo_match and sample_match and mv_match),
    }
    if args.mirror:
        mirror_repo_match = per_repo_matches(mir_repo)
        mirror_sample_match = mir_sample == eng_sample == ora_sample
        noop_ok = mirror_final_noop.get("mode") == "noop"
        out["mirror_runs"] = mirror_runs
        out["mirror_final_noop"] = mirror_final_noop
        out["mirror_per_repo_match"] = bool(mirror_repo_match)
        out["mirror_sample_hash_match"] = bool(mirror_sample_match)
        out["pass"] = bool(
            out["pass"] and mirror_repo_match and mirror_sample_match and noop_ok
        )
    name = f"validate_{scale}"
    if args.gc_slices:
        out["gc_slices"] = args.gc_slices
    if args.gen_slices:
        out["gen_slices"] = args.gen_slices
    if args.content_reps is not None:
        out["content_reps"] = args.content_reps
    if args.reuse_binlog:
        out["reused_binlog"] = True  # wall excludes generation
    if args.wap:
        name += "_wap"
    if args.bootstrap:
        name += "_bootstrap"
    if args.mirror:
        name += "_mirror"
    name += ".json"
    with open(os.path.join(REPO, "BENCH", name), "w") as f:
        json.dump(out, f, indent=1)
    print(json.dumps(out))
    if not args.keep:
        shutil.rmtree(args.workdir, ignore_errors=True)


if __name__ == "__main__":
    main()
