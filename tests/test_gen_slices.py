"""The generate-replay-delete slicing mode (bench/validate_1e8.py
--gen-slices) — the 10^10 disk-bound path. Two pins:

1. the slice property the whole mode rests on: ``change_events`` with
   ``start_seq`` is BIT-IDENTICAL to the same seq range of a
   whole-stream generation (every column is a pure function of seq);
2. the full mode end-to-end at process level: sliced generation,
   per-slice incremental oracle fold, inter-slice GC, slice deletion —
   must report ``pass: true`` on per-repo / sample-hash / MV checks.
"""

import json
import os
import subprocess
import sys

from pyspark.sql import functions as F

from fao_elt_pipelines_spark.binlog import change_events

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_slice_generation_equals_whole_stream_range(spark):
    """events [20k, 35k) generated as a slice must equal the same rows of
    a whole-stream generation, column for column (ingest_ts included) —
    the property that lets a 10^10 binlog exist one slice at a time."""
    whole = change_events(
        spark, 50_000, n_repos=100, events_per_epoch=10_000, num_partitions=8
    ).filter((F.col("seq") >= 20_000) & (F.col("seq") < 35_000))
    sliced = change_events(
        spark, 15_000, n_repos=100, events_per_epoch=10_000,
        num_partitions=8, start_seq=20_000,
    )
    assert sliced.count() == 15_000
    # epoch ids stay GLOBAL (epoch = seq // events_per_epoch)
    assert sliced.agg(F.min("epoch"), F.max("epoch")).first() == (2, 3)
    diff = whole.exceptAll(sliced).count() + sliced.exceptAll(whole).count()
    assert diff == 0


def test_gen_slices_mode_end_to_end(tmp_path):
    """Process-level: 1e5 events / 4 epochs / 2 generate-replay-delete
    slices through the real harness; the incrementally-folded DuckDB
    oracle must certify the final state (pass: true) and the per-slice
    binlogs must be gone afterwards."""
    out = subprocess.run(
        [
            sys.executable, os.path.join(REPO, "bench", "validate_1e8.py"),
            "--events", "100000", "--epochs", "4", "--gen-slices", "2",
            "--cores", "4", "--n-repos", "200",
            "--workdir", str(tmp_path / "w"),
        ],
        capture_output=True, text=True, cwd=REPO, timeout=560,
    )
    # artifact name is scale-exact (1e5), never the 1e8 flagship's; removed
    # whatever the assertions say, so a failure leaves no stray file
    artifact = os.path.join(REPO, "BENCH", "validate_1e5.json")
    try:
        assert out.returncode == 0, out.stderr[-3000:]
        doc = json.loads(out.stdout.strip().splitlines()[-1])
        assert doc["pass"] is True
        assert doc["per_repo_match"] and doc["sample_hash_match"] and doc["mv_match"]
        assert doc["replay"]["gen_slices"] == 2
        assert doc["replay"]["epochs_applied"] == [0, 1, 2, 3]
        assert doc["replay"]["events_in"] == 100_000
    finally:
        if os.path.exists(artifact):
            os.remove(artifact)
