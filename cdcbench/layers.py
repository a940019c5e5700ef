"""Per-layer metrics of a traced run, named by engine module.

Every workload reports every name; a layer a workload does not exercise
reads 0. ``cdcbench/README.md`` says which end-to-end metric each one
should move, on which workload.
"""

from __future__ import annotations

from typing import Any

from cdcbench.trace import fold

#: (metric, span name, field of trace.fold's record, unit)
SPAN_FIELDS = [
    ("replay.calls", "replay", "calls", "count"),
    ("replay.wall_s", "replay", "wall_s", "s"),
    ("replay.self_s", "replay", "self_s", "s"),
    ("replay.jobs", "replay", "jobs", "count"),
    ("replay.driver_s", "replay", "driver_s", "s"),
    ("merge.wall_s", "merge", "wall_s", "s"),
    ("merge.jobs", "merge", "jobs", "count"),
    ("merge.tasks", "merge", "tasks", "count"),
    ("merge.executor_run_s", "merge", "run_s", "s"),
    ("merge.shuffle_write_bytes", "merge", "shuffle_write_bytes", "bytes"),
    ("merge.spill_bytes", "merge", "spill_bytes", "bytes"),
    ("merge.output_bytes", "merge", "output_bytes", "bytes"),
    ("merge.driver_s", "merge", "driver_s", "s"),
    ("merge.rows_written", "merge", "rows_written", "count"),
    ("compact.calls", "compact", "calls", "count"),
    ("compact.wall_s", "compact", "wall_s", "s"),
    ("compact.shuffle_write_bytes", "compact", "shuffle_write_bytes", "bytes"),
    ("compact.output_bytes", "compact", "output_bytes", "bytes"),
    ("checkpoint.commit_calls", "checkpoint", "calls", "count"),
    ("checkpoint.commit_s", "checkpoint", "wall_s", "s"),
    ("mv.refresh_s", "refresh", "wall_s", "s"),
    ("mv.refresh_jobs", "refresh", "jobs", "count"),
    ("mv.refresh_driver_s", "refresh", "driver_s", "s"),
    ("mv.refresh_input_bytes", "refresh", "input_bytes", "bytes"),
    ("changelog.row_changes_s", "row_changes", "wall_s", "s"),
    ("changelog.jobs", "row_changes", "jobs", "count"),
    ("changelog.input_bytes", "row_changes", "input_bytes", "bytes"),
    ("lookup.wall_s", "lookup", "wall_s", "s"),
    ("lookup.jobs", "lookup", "jobs", "count"),
    ("lookup.input_bytes", "lookup", "input_bytes", "bytes"),
    ("scan_repos.wall_s", "scan_repos", "wall_s", "s"),
    ("scan_repos.input_bytes", "scan_repos", "input_bytes", "bytes"),
    ("read.wall_s", "read", "wall_s", "s"),
    ("read.input_bytes", "read", "input_bytes", "bytes"),
    ("read.shuffle_write_bytes", "read", "shuffle_write_bytes", "bytes"),
]

#: the parts of setup_s
SETUP_PARTS = ["setup.jvm_s", "setup.prefill_s", "setup.warmup_s"]


def layer_metrics(
    spans: list[dict[str, Any]],
    jobs: list[dict[str, Any]],
    run: Any,
    e2e: dict[str, tuple[float, str]],
) -> dict[str, dict[str, Any]]:
    by_name = fold(spans, jobs)
    out: dict[str, dict[str, Any]] = {}
    for metric, span, fld, unit in SPAN_FIELDS:
        out[metric] = {"value": by_name.get(span, {}).get(fld, 0), "unit": unit}
    span_ids = {s["id"] for s in spans}
    out["jobs.total"] = {"value": sum(j["group"] in span_ids for j in jobs), "unit": "count"}
    out["jvm.gc_s"] = {"value": run.layer["jvm.gc_s"], "unit": "s"}
    for part in SETUP_PARTS:
        out[part] = {"value": run.setup.get(part, 0.0), "unit": "s"}
    # outside setup_s: near 0 when the binlog comes from the input cache
    out["binlog.generate_s"] = {"value": run.layer["binlog.generate_s"], "unit": "s"}
    top = sum(s["end"] - s["start"] for s in spans if s["parent"] is None)
    out["trace.span_coverage"] = {"value": top / run.layer["timed_s"], "unit": "ratio"}
    # the traced run's own end-to-end values; minus the untraced run's
    # values they give the tracing overhead
    for k, (v, unit) in e2e.items():
        out[f"traced.{k}"] = {"value": v, "unit": unit}
    return out
