"""Per-layer metrics of a traced run, from the benchmark's spans, the
per-op phase records and the Spark event log.

Time metrics are means per timed operation, so the layers of one
workload add up to its mean op wall time; counts are per op as well.
The ``writer.*`` metrics are the exception: means per commit cycle of
query_mix's writer cell. Layers a workload does not touch report 0 (that
is its prediction).
"""

from __future__ import annotations

import os
import statistics
import time

from eventlog import EventLog, log_files, read_events

PER_LAYER = {
    "session.get_spark_s": "s", "synth.gen_s": "s", "synth.write_parquet_s": "s",
    "caching.release_s": "s",
    "fused.build_s": "s", "fused.eager_jobs": "count", "fused.analysis_s": "s",
    "fused.optimization_s": "s", "fused.planning_s": "s", "fused.exec_s": "s",
    "exec.stages": "count", "exec.tasks": "count", "exec.run_s": "s",
    "exec.cpu_s": "s", "exec.gc_s": "s", "exec.shuffle_write_mb": "MB",
    "exec.shuffle_read_mb": "MB", "exec.spill_mb": "MB", "exec.task_skew": "ratio",
    "exec.scheduler_delay_s": "s",
    "writer.commit_s": "s", "writer.data_write_s": "s", "writer.lineage_s": "s",
    "writer.noop_commit_s": "s", "writer.read_at_s": "s",
    "writer.files_per_commit": "count", "writer.bytes_per_commit_mb": "MB",
    "writer.manifest_rows": "count",
    "entry.build_s": "s", "entry.eager_jobs": "count", "entry.plan_s": "s",
    "entry.exec_s": "s", "entry.pyudf_exec_s": "s", "entry.jvm_exec_s": "s",
    "trace.op_p50_s": "s", "trace.unattributed_s": "s",
}


def _mean(ops, key):
    return sum(r.get(key, 0.0) for r in ops) / len(ops) if ops else 0.0


def _timed(group: str) -> bool:
    return group.startswith("t") and "/" in group


def per_layer(ctx, walls) -> dict:
    vals = {k: 0.0 for k in PER_LAYER}
    for k in ("synth.gen_s", "synth.write_parquet_s", "caching.release_s"):
        if ctx.layer.get(k):
            vals[k] = statistics.median(ctx.layer[k])
    vals["session.get_spark_s"] = ctx.layer["session.get_spark_s"]
    ops = [r for r in ctx.ops if not r.get("error")]
    n = len(ops) or 1
    log_dir = os.path.join(ctx.work, "eventlog")
    ctx.extra["eventlog_files"] = {
        os.path.relpath(f, log_dir): os.path.getsize(f) for f in log_files(log_dir)
    }
    t0 = time.perf_counter()
    events = read_events(log_dir)
    log = EventLog(events)
    ctx.extra["eventlog_events"] = len(events)
    ctx.extra["eventlog_parse_s"] = time.perf_counter() - t0
    del events
    ex = log.stage_metrics(_timed)
    for k in ("stages", "tasks", "run_s", "cpu_s", "gc_s", "shuffle_write_mb",
              "shuffle_read_mb", "spill_mb", "scheduler_delay_s"):
        vals[f"exec.{k}"] = ex.get(k, 0.0) / n
    skews = [log.stage_metrics(lambda g, o=r["op"]: g.startswith(o + "/"))["task_skew"]
             for r in ops]
    vals["exec.task_skew"] = statistics.median(skews) if skews else 0.0

    # query_mix's writer cell commits; every other op builds a DataFrame
    writes = [r for r in ops if "commit_s" in r]
    builds = [r for r in ops if "commit_s" not in r]
    layer = "fused" if ctx.workload == "feature_build" else "entry"
    vals[f"{layer}.build_s"] = sum(r["build_s"] for r in builds) / n
    # jobs Spark ran while the DataFrame was being built
    vals[f"{layer}.eager_jobs"] = log.jobs_in(lambda g: _timed(g) and g.endswith("/build")) / n
    vals[f"{layer}.exec_s"] = sum(r["exec_s"] for r in builds) / n
    if layer == "fused":
        for ph in ("analysis", "optimization", "planning"):
            vals[f"fused.{ph}_s"] = _mean(ops, ph)
    else:
        vals["entry.plan_s"] = sum(r["plan_s"] for r in builds) / n
        vals["entry.pyudf_exec_s"] = sum(r["exec_s"] for r in builds if r["python"]) / n
        vals["entry.jvm_exec_s"] = sum(r["exec_s"] for r in builds if not r["python"]) / n
    if writes:
        data_path = os.path.join(ctx.work, "table", "data")

        def is_data_write(plan):
            return "InsertIntoHadoopFsRelationCommand" in plan and data_path in plan

        write_s = [
            log.sql_seconds(lambda g, o=r["op"]: g == f"{o}/commit", is_data_write)
            for r in writes
        ]
        # per commit cycle, not per op of the mix
        vals["writer.commit_s"] = _mean(writes, "commit_s")
        vals["writer.data_write_s"] = sum(write_s) / len(writes)
        vals["writer.lineage_s"] = vals["writer.commit_s"] - vals["writer.data_write_s"]
        vals["writer.noop_commit_s"] = _mean(writes, "noop_commit_s")
        vals["writer.read_at_s"] = _mean(writes, "read_at_s")
        vals["writer.files_per_commit"] = _mean(writes, "files")
        vals["writer.bytes_per_commit_mb"] = _mean(writes, "bytes") / 1e6
        commits = ctx.extra.get("commits") or 1
        vals["writer.manifest_rows"] = ctx.extra.get("manifest_rows", 0) / commits
        if not any(write_s):
            ctx.fail("event log shows no data-write SQL execution in any commit")
    if vals["exec.tasks"] == 0:
        ctx.fail("event log attributes no tasks to the timed operations")

    # self time per layer, and what the spans leave unattributed per op
    spans = ctx.tracer.to_json()
    by_layer: dict[str, float] = {}
    unattributed = 0.0
    for s in spans:
        if s["op"] is None or not s["op"].startswith("t"):
            continue
        if s["name"] == "op":
            unattributed += s["self_s"]
        else:
            by_layer[s["name"]] = by_layer.get(s["name"], 0.0) + s["self_s"]
    ctx.layer_self = {k: v / n for k, v in sorted(by_layer.items())}
    ctx.layer_self["op (benchmark glue)"] = unattributed / n
    ctx.layer_self["op wall (mean)"] = sum(walls) / len(walls)
    vals["trace.unattributed_s"] = unattributed / n
    vals["trace.op_p50_s"] = statistics.median(walls)
    return {k: (v, PER_LAYER[k]) for k, v in vals.items()}
