"""Repository benchmark.

    python3 perfbench/run.py --workload {backfill,tail,dataset_ops} \\
        --seed N --seconds S --trace {0,1}

Run from the repository root.  One process starts a Spark session at
``local[<nproc>]``, materializes the workload's inputs from the seed, runs
the workload's operation in a closed loop (one client) for at least
``--seconds`` and at least the workload's minimum operation count, then
checks every output against an independent DuckDB computation.

The last line of stdout is the result object
``{"correct", "attempted", "failed", "metrics"}``: with ``--trace 0`` the
end-to-end metrics, with ``--trace 1`` the per-layer metrics.  A traced run
first repeats the untraced loop, then restarts the Spark context with the
event log on and runs a shorter loop with one Spark job group per timed
call, which gives task metrics per call and the tracing overhead; it also
writes its spans and parsed task metrics to ``.perfbench_out/``.

Everything the run writes (Spark local dirs, temp files, work dirs) lives
in a per-run directory under ``.perfbench_tmp/`` that is removed on exit.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import tempfile
import time
import traceback
from types import SimpleNamespace

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

from perfbench.tracing import (  # noqa: E402
    RssSampler,
    Tracer,
    enable_event_log_conf,
    find_event_log,
    jvm_rss_mb,
    parse_event_log,
    process_start_time,
)
from perfbench.workloads import WORKLOADS, span_walls  # noqa: E402


def result_metrics(values: dict[str, float], trace: bool) -> dict:
    """The ``metrics`` object of the result line: every metric of the mode
    listed in BENCHMARK.json, by name and unit; a per-layer metric of a
    layer the workload never calls reads 0."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)["per_layer" if trace else "end_to_end"]
    if trace:
        return {m["name"]: {"value": float(values.get(m["name"], 0.0)), "unit": m["unit"]} for m in spec}
    return {m["name"]: {"value": float(values[m["name"]]), "unit": m["unit"]} for m in spec}


def host_info() -> dict:
    import pyspark

    with open("/proc/meminfo") as f:
        mem_kb = next(int(line.split()[1]) for line in f if line.startswith("MemTotal"))
    commit = "unknown"
    head = os.path.join(ROOT, ".git", "HEAD")
    if os.path.isfile(head):
        with open(head) as f:
            ref = f.read().strip()
        if ref.startswith("ref: "):
            ref_path = os.path.join(ROOT, ".git", ref[5:])
            ref = open(ref_path).read().strip() if os.path.isfile(ref_path) else ref
        commit = ref
    return {
        "nproc": len(os.sched_getaffinity(0)), "mem_total_mb": mem_kb // 1024,
        "pyspark": pyspark.__version__, "commit": commit,
    }


def prepare_environment(run_dir: str) -> None:
    """Point every scratch location of Spark, the JVM and Python at the
    per-run directory, before the JVM starts."""
    tmp = os.path.join(run_dir, "tmp")
    local = os.path.join(run_dir, "spark-local")
    os.makedirs(tmp)
    os.makedirs(local)
    os.environ["TZ"] = "UTC"
    time.tzset()
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    java_opts = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["JAVA_TOOL_OPTIONS"] = (os.environ.get("JAVA_TOOL_OPTIONS", "") + " " + java_opts).strip()


def start_session(ctx, extra: dict[str, str] | None = None):
    from oplog_analyzer_spark.session import get_spark

    conf = {"spark.sql.warehouse.dir": os.path.join(ctx.run_dir, "warehouse")}
    conf.update(extra or {})
    spark = get_spark(master=f"local[{ctx.nproc}]", app_name="perfbench", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_jvm() -> None:
    """Stop the Spark context and the gateway JVM, and wait for it to exit
    (the gateway exits when its stdin closes)."""
    from pyspark import SparkContext

    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    try:
        gw.shutdown()
    except Exception:  # the JVM may already be gone
        pass
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def closed_loop(wl, ctx, seconds: float, min_ops: int, max_ops: int) -> list[dict]:
    """Run ``wl.op`` back to back until ``seconds`` have passed and at
    least ``min_ops`` ran (at most ``max_ops``)."""
    ops: list[dict] = []
    deadline = time.time() + seconds
    while len(ops) < max_ops and (len(ops) < min_ops or time.time() < deadline):
        i = len(ops)
        error = None
        with ctx.tracer.span("op", index=i) as sp:
            try:
                res = wl.op(i)
            except Exception:
                res, error = None, traceback.format_exc(limit=5)
        ops.append({"wall": sp["end"] - sp["start"], "result": res, "error": error})
        if error:
            print(f"perfbench: op {i} failed:\n{error}", file=sys.stderr)
    return ops


def count_failures(ops: list[dict], checks: list[str | None], extra: list[str | None]) -> int:
    """Operations that raised or whose output failed its check, plus
    failed extra operations; each failure is reported on stderr."""
    failed = 0
    for o, msg in zip(ops, checks):
        if o["error"] or msg:
            failed += 1
    for msg in list(checks) + list(extra):
        if msg:
            print(f"perfbench: check failed: {msg}", file=sys.stderr)
    return failed + sum(1 for msg in extra if msg)


def run(args, run_dir: str) -> dict:
    t_process = process_start_time()
    ctx = SimpleNamespace(seed=args.seed, run_dir=run_dir, nproc=len(os.sched_getaffinity(0)), spark=None,
                          tracer=Tracer(run_id=f"{args.workload}-{args.seed}-untraced"))
    wl = WORKLOADS[args.workload](ctx)
    with RssSampler() as rss:
        with ctx.tracer.span("session.start"):
            ctx.spark = start_session(ctx)
        jvm_mb = jvm_rss_mb()
        wl.setup()
        setup_s = time.time() - t_process
        ops = closed_loop(wl, ctx, args.seconds, wl.min_ops, wl.max_ops)
        untraced = ctx.tracer
        traced_ops, control_ops, events, layers, extra = [], [], None, {}, []
        if args.trace:
            # replay the loop's first operations in a new context with the
            # event log on, then in another new context without it: the
            # pair gives the tracing overhead on the same work
            ctx.spark.stop()
            log_dir = os.path.join(run_dir, "eventlog")
            ctx.spark = start_session(ctx, enable_event_log_conf(log_dir))
            ctx.tracer = Tracer(ctx.spark, enabled=True, run_id=f"{args.workload}-{args.seed}-traced")
            wl.reset()
            traced_ops = closed_loop(wl, ctx, 0, wl.traced_ops, wl.traced_ops)
            extra = wl.profile()
            ctx.spark.stop()
            traced = ctx.tracer
            events = parse_event_log(find_event_log(log_dir), traced.spans)
            ctx.spark = start_session(ctx)
            ctx.tracer = Tracer(run_id=f"{args.workload}-{args.seed}-control")
            wl.reset()
            control_ops = closed_loop(wl, ctx, 0, wl.traced_ops, wl.traced_ops)
        all_ops = ops + traced_ops + control_ops
        failures = wl.check([o["result"] for o in all_ops])
    failed = count_failures(all_ops, failures, extra)

    warm = wl.measured(ops)
    walls = [o["wall"] for o in warm]
    rows = sum(o["result"]["input_rows"] for o in warm if o["result"])
    values = {
        "setup_s": setup_s,
        "peak_rss_mb": rss.peak_mb,
        "op_p50_s": statistics.median(walls),
        "cold_s": ops[0]["wall"],
        "input_rows_per_s": rows / sum(walls),
    }
    info = {"workload": args.workload, "seed": args.seed, "seconds": args.seconds,
            "trace": args.trace, **host_info(), "op_walls": [o["wall"] for o in ops], **values}
    if args.trace:
        ok = [o["result"] for o in ops if o["result"]]
        layers = wl.layers(ok, untraced, traced, events)
        # replayed operation k traced against untraced, each context's
        # first operation dropped
        pairs = list(zip(traced_ops, control_ops))[1:]
        layers.update({
            "session.start_s": sum(span_walls(untraced, "session.start")),
            "session.jvm_rss_mb": jvm_mb,
            "transcripts.generate_s": sum(span_walls(untraced, "transcripts.generate")),
            "trace.cold_s": values["cold_s"],
            "trace.untraced_op_p50_s": statistics.median(c["wall"] for _, c in pairs),
            "trace.traced_op_p50_s": statistics.median(t["wall"] for t, _ in pairs),
            "trace.overhead_s": statistics.median(t["wall"] - c["wall"] for t, c in pairs),
        })
        out_dir = os.path.join(ROOT, ".perfbench_out")
        os.makedirs(out_dir, exist_ok=True)
        path = os.path.join(out_dir, f"trace-{args.workload}-{args.seed}.json")
        with open(path, "w") as f:
            json.dump({"info": info, "layers": layers, "untraced_spans": untraced.spans,
                       "traced_spans": traced.spans, "control_spans": ctx.tracer.spans,
                       "task_metrics_by_span": events["by_span"],
                       "streaming_progress": events["progress"]}, f, indent=1, default=str)
        info["trace_file"] = os.path.relpath(path, ROOT)
    print(json.dumps({"perfbench_run": info}))
    return {
        "correct": failed == 0,
        "attempted": len(all_ops) + len(extra),
        "failed": failed,
        "metrics": result_metrics(layers if args.trace else values, bool(args.trace)),
    }


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "__spark_entry__.py")) or not os.path.isdir(
        os.path.join(ROOT, "oplog_analyzer_spark")
    ):
        print("perfbench: the oplog_analyzer_spark package is not in this checkout", file=sys.stderr)
        return 2
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    tmp_root = os.path.join(ROOT, ".perfbench_tmp")
    os.makedirs(tmp_root, exist_ok=True)
    run_dir = tempfile.mkdtemp(prefix="run-", dir=tmp_root)
    try:
        prepare_environment(run_dir)
        result = run(args, run_dir)
    finally:
        stop_jvm()
        shutil.rmtree(run_dir, ignore_errors=True)
        try:
            os.rmdir(tmp_root)
        except OSError:
            pass  # another run still uses it
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
