"""Environment/session preflight — the engine's analogue of the reference's
``scripts/validate_setup.py:100-188`` (env, deps, connectivity), re-aimed at
what THIS engine needs before a run: interpreter + libraries, a working JVM,
readable fixture tables, scratch space for shuffle spill, a live Spark
session exercising codegen and the Arrow pandas-UDF path, and (optionally)
lake-table manifest integrity.

    python scripts/preflight.py [--sf-dir /root/testdata/sf0.01]
                                [--table /path/to/lake/table]
                                [--skip-spark]

Prints one human line per check and a final one-line JSON summary;
exit code 0 iff every check passed.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

try:
    # one source of truth for the fixture table set
    from fao_elt_pipelines_spark.plans.queries import TABLES as EXPECTED_TABLES
except Exception:  # preflight must still run (and report) when imports break
    EXPECTED_TABLES = [
        "region", "nation", "customer", "supplier", "part", "orders",
        "lineitem", "events", "documents", "embeddings",
    ]


def check_python() -> tuple[bool, str]:
    ok = sys.version_info >= (3, 10)
    return ok, f"python {sys.version.split()[0]}"


def check_libraries() -> tuple[bool, str]:
    vers = {}
    for mod in ("pyspark", "pyarrow", "pandas", "numpy", "duckdb"):
        try:
            m = __import__(mod)
            vers[mod] = getattr(m, "__version__", "?")
        except ImportError:
            return False, f"missing module: {mod}"
    return True, " ".join(f"{k}={v}" for k, v in vers.items())


def check_java() -> tuple[bool, str]:
    home = os.environ.get("JAVA_HOME", "")
    java = os.path.join(home, "bin", "java") if home else "java"
    try:
        out = subprocess.run(
            [java, "-version"], capture_output=True, text=True, timeout=30
        )
        lines = (out.stderr or out.stdout).splitlines()
        line = lines[0] if lines else "(no version output)"
        return out.returncode == 0, line
    except (OSError, subprocess.TimeoutExpired) as e:
        return False, f"java not runnable: {e}"


def check_fixtures(sf_dir: str) -> tuple[bool, str]:
    import pyarrow.parquet as pq

    missing, counts = [], {}
    for t in EXPECTED_TABLES:
        p = os.path.join(sf_dir, f"{t}.parquet")
        if not os.path.exists(p):
            missing.append(t)
            continue
        try:
            # footer-only read: row count without scanning data
            counts[t] = pq.ParquetFile(p).metadata.num_rows if os.path.isfile(p) else sum(
                pq.ParquetFile(os.path.join(p, f)).metadata.num_rows
                for f in os.listdir(p)
                if f.endswith(".parquet")
            )
        except Exception as e:  # unreadable footer == corrupt fixture
            return False, f"{t}: unreadable parquet ({e})"
    if missing:
        return False, f"missing tables in {sf_dir}: {missing}"
    zero = [t for t, n in counts.items() if n == 0]
    return not zero, f"{len(counts)} tables, rows={sum(counts.values())}" + (
        f", EMPTY: {zero}" if zero else ""
    )


def check_scratch(min_gb: float = 2.0) -> tuple[bool, str]:
    tmp = os.environ.get("SPARK_LOCAL_DIRS", "/tmp").split(",")[0]
    free_gb = shutil.disk_usage(tmp).free / 1e9
    return free_gb >= min_gb, f"{tmp}: {free_gb:.1f} GB free (need >= {min_gb})"


def check_spark_session() -> tuple[bool, str]:
    """Live-session smoke: codegen aggregate + Arrow pandas-UDF round-trip
    (the two execution paths every query in this engine uses)."""
    from pyspark.sql import functions as F
    from pyspark.sql.functions import pandas_udf

    from fao_elt_pipelines_spark.session import get_spark

    spark = get_spark("preflight", cores=2)
    try:
        total = spark.range(1000).agg(F.sum("id")).collect()[0][0]
        if total != 499500:
            return False, f"codegen aggregate wrong: {total}"

        # no type hints: `from __future__ import annotations` stringifies
        # them, which pandas_udf's hint inference rejects for local defs
        @pandas_udf("long")
        def plus_one(s):
            return s + 1

        got = spark.range(5).select(plus_one("id").alias("v")).agg(F.sum("v")).collect()[0][0]
        if got != 15:
            return False, f"arrow pandas-udf wrong: {got}"
        return True, f"local session OK (spark {spark.version})"
    finally:
        spark.stop()


def check_table(path: str) -> tuple[bool, str]:
    """Manifest integrity: VERSION resolves, current snapshot's files exist."""
    from fao_elt_pipelines_spark.lake.table import LakeTable

    if not LakeTable.exists(path):
        return False, f"no lake table at {path}"
    # metadata and manifest reads only: no path of current_snapshot() uses spark
    table = LakeTable(None, path)
    v = table._version()
    snap = table.current_snapshot()
    if snap is None:
        return True, f"v{v}, empty table"
    sid, manifest = snap["snapshot_id"], snap["manifest"]
    gone = [e["path"] for e in manifest if not os.path.exists(e["path"])]
    if gone:
        return False, f"{len(gone)} manifest files missing, e.g. {gone[0]}"
    return True, f"v{v}, snapshot {sid}, {len(manifest)} files OK"


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01"))
    ap.add_argument("--table", default=None, help="optional lake table to integrity-check")
    ap.add_argument("--skip-spark", action="store_true", help="skip the live-session smoke (fast mode)")
    args = ap.parse_args()

    checks: list[tuple[str, tuple[bool, str]]] = [
        ("python", check_python()),
        ("libraries", check_libraries()),
        ("java", check_java()),
        ("fixtures", check_fixtures(args.sf_dir)),
        ("scratch", check_scratch()),
    ]
    if not args.skip_spark:
        checks.append(("spark_session", check_spark_session()))
    if args.table:
        checks.append(("table", check_table(args.table)))

    for name, (ok, detail) in checks:
        print(f"{'PASS' if ok else 'FAIL'} {name}: {detail}", file=sys.stderr)
    passed = sum(1 for _, (ok, _) in checks if ok)
    doc = {
        "preflight": "pass" if passed == len(checks) else "fail",
        "passed": passed,
        "total": len(checks),
        "checks": {name: {"ok": ok, "detail": detail} for name, (ok, detail) in checks},
    }
    print(json.dumps(doc))
    sys.exit(0 if passed == len(checks) else 1)


if __name__ == "__main__":
    main()
