"""Layered benchmark for the transcript feature engine.

    python3 perfbench/run.py --workload {feature_build,query_mix}
                             --seed N --seconds S --trace {0,1}

Run from the repository root. One closed-loop client (one operation at a
time) drives the package's public functions on ``local[nproc]``.

* ``--trace 0`` prints the end-to-end metrics (see ``BENCHMARK.json``).
* ``--trace 1`` is a separate run with the Spark event log on, a job group
  per phase of each timed call and spans around every call into a layer;
  it prints the per-layer metrics.

The last stdout line is the result object ``{"correct", "attempted",
"failed", "metrics"}``; the line before it is a report with the
workload's named metrics, sample counts and the host-window bracket.
The full record (spans, query order, cold vs warm latencies, per-op
samples) is written to ``perfbench/out/<workload>-seed<N>-trace<T>.json``.
All scratch files live under ``perfbench/.work`` and are removed at exit.
Exit status: 0 when every output checked correct, 1 on a wrong output or
failed operation, 2 when the package is not next to the benchmark.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import tempfile
import time

T_START = time.perf_counter()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "amazon_security_lake_transformation_library_spark"
WORKLOADS = ("feature_build", "query_mix")
SETUP_REPS = 3


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def hygiene(workload: str) -> str:
    """Point every scratch location at a fresh work dir inside the
    benchmark's own directory, before pyspark is imported: Python workers
    must import the package (PYTHONPATH), and nothing may land in /tmp or a
    repo-root spark-warehouse/."""
    work = os.path.join(HERE, ".work", f"{workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    for sub in ("tmp", "local", "warehouse", "eventlog", "fixtures"):
        os.makedirs(os.path.join(work, sub))
    env = os.environ
    env["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in env.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    env["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    env["TMPDIR"] = os.path.join(work, "tmp")
    env["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    # the JVM that spark-submit runs to build the JVM command line
    env["SPARK_LAUNCHER_OPTS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={env['TMPDIR']}"
    tempfile.tempdir = env["TMPDIR"]
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)
    return work


def redirect_fixtures(work: str) -> None:
    """Fixture generators in the package and in ``__spark_entry__`` default to
    fixed /tmp paths; keep them inside the work dir."""
    import __spark_entry__ as entry
    from amazon_security_lake_transformation_library_spark.synth import transcripts

    fx = os.path.join(work, "fixtures")
    transcripts.FIXTURE_ROOT = os.path.join(fx, "transcripts")
    entry._GZ_FIXTURE_DIR = os.path.join(fx, "ingest_gz")
    entry._BPE_FIX_DIR = os.path.join(fx, "bpe")
    entry._LANGID_FIX_DIR = os.path.join(fx, "langid")


def start_session(ctx) -> None:
    from amazon_security_lake_transformation_library_spark.session import get_spark

    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(ctx.work, "warehouse"),
        # no hsperfdata in /tmp: the JVM writes it there whatever tmpdir says
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={ctx.work}/tmp -XX:-UsePerfData",
    }
    if ctx.traced:
        conf["spark.eventLog.enabled"] = "true"
        conf["spark.eventLog.dir"] = "file://" + os.path.join(ctx.work, "eventlog")
    with ctx.tracer.span("session.get_spark", op="setup") as sp:
        ctx.spark = get_spark(f"perfbench-{ctx.workload}", extra_conf=conf)
    ctx.spark.sparkContext.setLogLevel("ERROR")
    ctx.tracer.sc = ctx.spark.sparkContext
    ctx.layer["session.get_spark_s"] = sp.elapsed


def stop_session(ctx) -> None:
    """Stop Spark, then the JVM gateway, and wait for the JVM to exit."""
    from pyspark import SparkContext

    ctx.spark.stop()
    gw = SparkContext._gateway
    if gw is not None:
        proc = getattr(gw, "proc", None)
        gw.shutdown()
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)
        SparkContext._gateway = None
        SparkContext._jvm = None


def jvm_pid() -> int:
    from pyspark import SparkContext

    return SparkContext._gateway.proc.pid


def run(args, work: str) -> int:
    from harness import Ctx, Tracer, probe_window, timing, vm_hwm_mb

    import workloads

    ctx = Ctx(
        workload=args.workload, work=work, seed=args.seed,
        seconds=args.seconds, traced=bool(args.trace),
    )
    ctx.tracer = Tracer(enabled=ctx.traced)
    wl = workloads.get(args.workload)
    meta = {"probe_before": probe_window(ROOT)}
    redirect_fixtures(work)
    try:
        t_setup = time.perf_counter()
        start_session(ctx)
        prep = []
        for rep in range(SETUP_REPS):
            with ctx.tracer.span(f"setup.prepare[{rep}]", op="setup") as sp:
                wl.prepare(ctx, rep)
            prep.append(sp.elapsed)
        with ctx.tracer.span("setup.warm_up", op="setup") as sp:
            wl.warm_up(ctx)
        warm = sp.elapsed
        ctx.setup = {
            "session_s": ctx.layer["session.get_spark_s"],
            "prepare_s": prep, "warm_up_s": warm,
            "wall_s": time.perf_counter() - t_setup,
        }
        setup_s = ctx.layer["session.get_spark_s"] + statistics.median(prep) + warm
        wl.check(ctx)  # untimed correctness against the DuckDB oracle

        t0 = time.perf_counter()
        k = 0
        while True:
            ctx.attempted += 1
            op_id = f"t{k}"
            with ctx.tracer.span("op", op=op_id) as sp:
                try:
                    rec = wl.op(ctx, k, op_id)
                except Exception as ex:  # an operation failure is a result
                    rec = {"rows": 0, "error": f"{type(ex).__name__}: {ex}"[:300]}
            rec["wall_s"] = sp.elapsed
            rec["op"] = op_id
            if rec.get("error") or rec.get("wrong"):
                ctx.failed += 1
            ctx.ops.append(rec)
            k += 1
            if wl.stop(ctx, k, time.perf_counter() - t0):
                break
        elapsed = time.perf_counter() - t0
        if any(not r.get("error") and not r.get("wrong") for r in ctx.ops):
            wl.finish(ctx)
        else:
            ctx.fail("no timed operation succeeded")
        rss = vm_hwm_mb("self") + vm_hwm_mb(jvm_pid())
    finally:
        if ctx.spark is not None:
            stop_session(ctx)
    meta["probe_after"] = probe_window(ROOT)

    good = [r for r in ctx.ops if not r.get("error") and not r.get("wrong")]
    walls = [r["wall_s"] for r in good] or [0.0]  # all failed: correct is false
    end_to_end = {
        "setup_s": (setup_s, "s"),
        "op_p50_s": (statistics.median(walls), "s"),
        "ops_per_s": (len(good) / elapsed, "1/s"),
        "rows_per_s": (sum(r["rows"] for r in good) / elapsed, "rows/s"),
    }
    report = {
        "workload": ctx.workload, "seed": ctx.seed, "traced": ctx.traced,
        "setup": ctx.setup, "op_wall_s": timing(walls),
        "error_rate": ctx.failed / ctx.attempted,
        "named": ctx.named, **meta,
    }
    if ctx.traced:
        from layers import per_layer

        metrics = per_layer(ctx, walls)
        report["trace_overhead"] = trace_overhead(ctx, statistics.median(walls))
        report["layer_self_s"] = ctx.layer_self
    else:
        metrics = end_to_end
    # named metrics that equal an end-to-end metric are reported as aliases
    for name, (src, unit) in {"setup_s": ("setup_s", "s"), **wl.ALIASES}.items():
        report["named"][name] = {
            "value": end_to_end[src][0], "unit": unit,
            "n": SETUP_REPS if src == "setup_s" else len(good), "alias_of": src,
        }
    report["named"].update({
        "error_rate": {"value": ctx.failed / ctx.attempted, "unit": "ratio",
                       "n": ctx.attempted},
        "peak_rss_mb": {"value": rss, "unit": "MB", "n": 1},
    })
    record = {
        "report": report, "metrics": {k: {"value": v, "unit": u}
                                      for k, (v, u) in metrics.items()},
        "ops": ctx.ops, "extra": ctx.extra,
        "spans": ctx.tracer.to_json() if ctx.traced else [],
    }
    report["run_wall_s"] = time.perf_counter() - T_START
    out_dir = os.path.join(HERE, "out")
    os.makedirs(out_dir, exist_ok=True)
    out = os.path.join(out_dir, f"{ctx.workload}-seed{ctx.seed}-trace{int(ctx.traced)}.json")
    with open(out, "w") as fh:
        json.dump(record, fh, indent=1, default=str)

    correct = ctx.failed == 0 and not ctx.wrong
    line = {"report": report["named"], "file": os.path.relpath(out, ROOT),
            "host": {k: meta[k] for k in ("probe_before", "probe_after")}}
    if ctx.traced:
        line["trace_overhead"] = report["trace_overhead"]
        line["layer_self_s"] = report["layer_self_s"]
    if ctx.wrong:
        line["wrong"] = ctx.wrong
    print(json.dumps(line, default=str))
    print(json.dumps({
        "correct": correct, "attempted": ctx.attempted, "failed": ctx.failed,
        "metrics": record["metrics"],
    }))
    return 0 if correct else 1


def trace_overhead(ctx, traced_p50: float) -> dict:
    """Traced op median against the untraced run of the same workload and
    seed, when one exists in perfbench/out."""
    path = os.path.join(HERE, "out", f"{ctx.workload}-seed{ctx.seed}-trace0.json")
    if not os.path.exists(path):
        return {"traced_op_p50_s": traced_p50, "untraced_op_p50_s": None,
                "note": "no untraced run of this workload and seed in perfbench/out"}
    with open(path) as fh:
        base = json.load(fh)["metrics"]["op_p50_s"]["value"]
    return {"traced_op_p50_s": traced_p50, "untraced_op_p50_s": base,
            "overhead_ratio": traced_p50 / base - 1.0}


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"error: package {PACKAGE}/ not found next to perfbench/", file=sys.stderr)
        return 2
    sys.path.insert(0, HERE)
    work = hygiene(args.workload)
    try:
        return run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
