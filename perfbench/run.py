"""Repo benchmark: link-graph workloads from pages to ranks on local[nproc].

Usage (from the root of a checkout):

    python3 perfbench/run.py --workload crawl_pagerank --seed 1 --seconds 20 --trace 0

One driver process runs one job at a time (a closed loop with one client)
for ``--seconds`` seconds after set-up, checks every job's outputs against
references computed outside the engine, and prints one JSON object as the
last line of stdout. ``--trace 0`` reports the end-to-end metrics;
``--trace 1`` alternates untraced and traced jobs and reports the
per-layer metrics (see README.md). Everything the run writes lives in a
temporary directory under ``.perfbench_runs/`` that is removed at exit.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import tempfile
import time
import traceback

sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
RUNS_DIR = os.path.join(ROOT, ".perfbench_runs")

DEFAULT_SCALE = 12
HEAP = "2g"
GEN_REPS = 3  # input generation is repeated and its median kept in setup_s
MAX_RUN_S = 120  # never start another job after this long in the loop

END_TO_END = {
    "setup_s": "s",
    "job_s": "s",
    "pagerank_edges_per_s": "1/s",
    "pagerank_iterations": "count",
    "superstep_p50_s": "s",
    "stored_mb": "MB",
    "ok_frac": "frac",
}


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), required=True)
    p.add_argument("--scale", type=int, default=DEFAULT_SCALE, help="R-MAT scale (log2 of vertex ids)")
    p.add_argument(
        "--corrupt-reference",
        action="store_true",
        help="perturb the reference answer (the smoke test expects failures)",
    )
    return p.parse_args(argv)


def code_version() -> str:
    """git sha when the checkout is a repository, else a digest of the package sources."""
    try:
        out = subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True, text=True, timeout=10
        )
        if out.returncode == 0:
            return out.stdout.strip()
    except OSError:
        pass
    h = hashlib.sha1()
    for root, dirs, files in os.walk(os.path.join(ROOT, "cugraph_spark")):
        dirs.sort()
        for f in sorted(files):
            if f.endswith(".py"):
                with open(os.path.join(root, f), "rb") as fh:
                    h.update(fh.read())
    return "src-" + h.hexdigest()[:12]


def capacity_probe(cores: int) -> dict:
    """Host-capacity probe (``scripts/scaling_bench.probe_capacity``, per-process
    spin seconds at ``cores`` concurrent processes) with the share of CPU
    time the hypervisor stole while it ran."""
    sys.path.insert(0, os.path.join(ROOT, "scripts"))
    try:
        from scaling_bench import probe_capacity
    except ImportError as e:
        return {"error": f"probe unavailable: {e}"}
    finally:
        sys.path.pop(0)

    def cpu_times():  # user nice system idle iowait irq softirq steal
        with open("/proc/stat") as f:
            return list(map(int, f.readline().split()[1:9]))

    s0 = cpu_times()
    try:
        spins = probe_capacity(cores)
    except (RuntimeError, OSError, subprocess.SubprocessError) as e:
        return {"error": str(e)[:200]}
    d = [b - a for a, b in zip(s0, cpu_times())]
    total = sum(d) or 1
    return {
        "spin_s": spins,
        "steal_pct": round(100 * d[7] / total, 2),
        "idle_pct": round(100 * d[3] / total, 2),
    }


def start_spark(rundir: str, cores: int, partitions: int, event_log: bool):
    from cugraph_spark.session import get_spark

    local = os.path.join(rundir, "local")
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.memory": HEAP,
        # the session default is a fixed 12 g heap; keep it fixed, but smaller
        "spark.driver.extraJavaOptions": (
            f"-XX:+UseParallelGC -XX:-UsePerfData -Xms{HEAP} -Djava.io.tmpdir={rundir}/tmp"
        ),
        "spark.local.dir": local,
        "spark.sql.warehouse.dir": os.path.join(rundir, "warehouse"),
    }
    if event_log:
        os.makedirs(os.path.join(rundir, "evlog"))
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": f"file://{rundir}/evlog",
                "spark.eventLog.compress": "false",
            }
        )
    # SPARK_LOCAL_DIRS overrides spark.local.dir, so pin it to the run dir too
    os.environ["SPARK_LOCAL_DIRS"] = local
    return get_spark("perfbench", master=f"local[{cores}]", shuffle_partitions=partitions, extra_conf=conf)


def stop_spark(spark) -> None:
    """Stop the session, then end the JVM it launched and wait for it, so
    nothing of the run outlives it (the JVM exits when its stdin closes)."""
    from pyspark import SparkContext

    proc = getattr(SparkContext._gateway, "proc", None)
    try:
        spark.stop()
    finally:
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()


def measure(args, ctx, wl) -> list:
    """Closed loop: one job at a time until ``args.seconds`` have passed.
    With tracing, odd-numbered jobs are traced and even ones are not, and at
    least three jobs run so that a traced job sits between untraced ones."""
    reps = []
    t_begin = time.perf_counter()
    min_reps = 3 if args.trace else 1
    while True:
        i = len(reps)
        traced = bool(args.trace) and i % 2 == 1
        rec = {"traced": traced, "root": None, "bad": [], "stats": {}}
        ctx.tracer.enabled = traced
        t0 = time.perf_counter()
        try:
            with ctx.tracer.span("job") as root:
                out = wl.job(ctx, i)
            rec["job_s"] = time.perf_counter() - t0
            ctx.tracer.enabled = False
            rec["root"] = root["id"] if root else None
            rec["stored_mb"] = wl.stored_mb(ctx)
            rec["e2e"] = wl.job_metrics(out)
            rec["bad"] = wl.check(ctx, out)
            if traced:
                rec["stats"] = wl.stats(out)
            del out
        except Exception:  # a failed job counts against ok_frac; keep measuring
            rec.setdefault("job_s", time.perf_counter() - t0)
            rec.setdefault("stored_mb", wl.stored_mb(ctx))
            rec["bad"] = ["job raised: " + traceback.format_exc(limit=3)]
        finally:
            ctx.tracer.enabled = False
            wl.cleanup(ctx)
        reps.append(rec)
        print(json.dumps({"rep": i, "traced": traced, "job_s": rec["job_s"], "bad": rec["bad"]}),
              file=sys.stderr, flush=True)
        elapsed = time.perf_counter() - t_begin
        if (elapsed >= args.seconds and len(reps) >= min_reps) or elapsed >= MAX_RUN_S:
            return reps


def end_to_end(reps: list, setup_s: float) -> dict:
    from tracing import median

    failed = sum(1 for r in reps if r["bad"])
    vals = {
        "setup_s": setup_s,
        "job_s": median([r["job_s"] for r in reps]),
        "stored_mb": median([r["stored_mb"] for r in reps]),
        "ok_frac": 1.0 - failed / len(reps),
    }
    for key in ("pagerank_edges_per_s", "pagerank_iterations", "superstep_p50_s"):
        vals[key] = median([r["e2e"][key] for r in reps if "e2e" in r])
    return {k: {"value": vals[k], "unit": END_TO_END[k]} for k in END_TO_END}


def per_layer(reps, tracer, evlog_dir, cores, setup_parts) -> dict:
    import tracing as T
    import workloads as W

    traced = [r for r in reps if r["traced"] and r["root"] is not None]
    plain = [r for r in reps if not r["traced"]]
    roots = [r["root"] for r in traced]
    out = {}
    for name in ("session.start_s", "datagen.rmat_s", "datagen.pages_s"):
        out[name] = (setup_parts.get(name, 0.0), "s")
    # wall time of each layer call, from the spans opened around it
    for metric, span in W.SPAN_METRICS.items():
        per_rep = [tracer.span_total(span, root) for root in roots]
        out[metric] = (T.median(per_rep), "s")
    for metric, unit in W.STAT_METRICS.items():
        out[metric] = (T.median([r["stats"].get(metric, 0.0) for r in traced]), unit)
    # self time per layer, and how much of the job the layers account for
    selfs = [tracer.self_times({root}) for root in roots]
    wall = {layer: sum(s.get(layer, 0.0) for s in selfs) for layer in T.EVENT_LAYERS}
    for layer in T.EVENT_LAYERS:
        out[f"{layer}.self_s"] = (T.median([s.get(layer, 0.0) for s in selfs]), "s")
    traced_job = T.median([r["job_s"] for r in traced])
    layer_sum = sum(out[f"{layer}.self_s"][0] for layer in T.EVENT_LAYERS)
    out["trace.job_s"] = (traced_job, "s")
    out["trace.self_sum_frac"] = (layer_sum / traced_job if traced_job else 0.0, "frac")
    out["trace.overhead_s"] = (traced_job - T.median([r["job_s"] for r in plain]), "s")
    out.update(T.event_log_layers(evlog_dir, cores, wall, len(traced)))
    return {k: {"value": v, "unit": u} for k, (v, u) in out.items()}


def run(args) -> dict:
    import tracing
    import workloads as W

    if args.workload not in W.WORKLOADS:
        raise SystemExit(f"unknown workload {args.workload!r}; choose from {sorted(W.WORKLOADS)}")
    cores = len(os.sched_getaffinity(0))
    partitions = cores
    os.makedirs(RUNS_DIR, exist_ok=True)
    rundir = tempfile.mkdtemp(prefix=f"{args.workload}-", dir=RUNS_DIR)
    os.makedirs(os.path.join(rundir, "tmp"))
    os.environ["TMPDIR"] = tempfile.tempdir = os.path.join(rundir, "tmp")
    spark = None
    try:
        env = {
            "workload": args.workload,
            "seed": args.seed,
            "scale": args.scale,
            "cores": cores,
            "shuffle_partitions": partitions,
            "heap": HEAP,
            "spark.local.dir": os.path.relpath(os.path.join(rundir, "local"), ROOT),
            "code": code_version(),
            "probe": capacity_probe(cores),
        }
        print(json.dumps({"env": env}), flush=True)

        t0 = time.perf_counter()
        spark = start_spark(rundir, cores, partitions, bool(args.trace))
        session_s = time.perf_counter() - t0
        tracer = tracing.Tracer(spark.sparkContext, run_id=os.path.basename(rundir))
        ctx = W.Ctx(spark, tracer, rundir, args.scale, args.seed, args.corrupt_reference)
        ctx.setup_parts["session.start_s"] = session_s
        wl = W.WORKLOADS[args.workload]()
        wl.generate(ctx, GEN_REPS)
        build_s = W.timed(lambda: wl.build(ctx))
        wl.load_reference(ctx)  # untimed: references are not set-up of the system
        # warm-up (see Workload.warm_up): the first job in a JVM runs up to
        # 1.7x slower. A warm-up with fewer supersteps left the measured job
        # still JIT-compiling: job_s spread over ten runs was 0.22 against 0.06.
        warm_s = W.timed(lambda: wl.warm_up(ctx))
        setup_s = sum(ctx.setup_parts.values()) + build_s + warm_s
        print(json.dumps({"setup": dict(ctx.setup_parts, build_s=build_s, warmup_s=warm_s)}), flush=True)

        reps = measure(args, ctx, wl)
        stop_spark(spark)
        spark = None
        if args.trace:
            print(json.dumps({"spans": tracer.spans}), flush=True)
        if args.trace:
            metrics = per_layer(reps, tracer, os.path.join(rundir, "evlog"), cores, ctx.setup_parts)
        else:
            metrics = end_to_end(reps, setup_s)
        failed = sum(1 for r in reps if r["bad"])
        for r in reps:
            for b in r["bad"]:
                print("FAILED: " + b, file=sys.stderr)
        return {"correct": failed == 0, "attempted": len(reps), "failed": failed, "metrics": metrics}
    finally:
        try:
            if spark is not None:
                stop_spark(spark)
        finally:
            shutil.rmtree(rundir, ignore_errors=True)
            try:
                os.rmdir(RUNS_DIR)
            except OSError:
                pass


def main(argv=None) -> int:
    args = parse_args(argv)
    # a terminated run still stops Spark and removes its directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    # import the engine first: without it, fail before any process starts
    import cugraph_spark  # noqa: F401

    result = run(args)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
