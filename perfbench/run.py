"""Two-job benchmark: the ROOT -> stage 1 -> stages 2+3 chain, and corpus dedup.

    python3 perfbench/run.py --workload root_to_templates --seed 1 --seconds 1 --trace 0
    python3 perfbench/run.py --smoke

Run from the root of a checkout.  One run is one fresh process on
local[<cores>] with one closed-loop client: set-up (session start and
seeded input generation), one cold pass, then warm passes back to back
until ``--seconds`` have passed (at least two), then the output check.
The last line of standard output is one JSON object: {"correct",
"attempted", "failed", "metrics"}.  ``--trace 0`` reports the end-to-end metrics of the chosen
workload; ``--trace 1`` runs the traced layer sequence of every workload
and reports the per-layer metrics (see README.md).
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
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import measure  # noqa: E402
import workloads  # noqa: E402

END_TO_END = {
    "setup_s": "s",
    "cpu_s_per_mrow": "s/Mrow",
    "first_pass_cpu_s_per_mrow": "s/Mrow",
    "peak_rss_mb": "MB",
}
PER_LAYER = {
    "session.start_s": "s",
    "rootio.decode_s": "s",
    "rootio.decode_mb_per_s": "MB/s",
    "rootio.write_th1f_s": "s",
    "root_ingest.scan_s": "s",
    "root_ingest.tasks": "count",
    "stage1.kernel_s": "s",
    "stage1.events_per_s": "1/s",
    "stage1.selected_rows": "count",
    "parquet_io.write_s": "s",
    "parquet_io.bytes_per_event": "B/event",
    "parquet_io.files": "count",
    "parquet_io.read_s": "s",
    "histogram.s": "s",
    "histogram.rows_out": "count",
    "mva.score_s": "s",
    "mva.rows_per_s": "1/s",
    "fits.s": "s",
    "fits.n_fits": "count",
    "templates.s": "s",
    "minhash.s": "s",
    "minhash.docs_per_s": "1/s",
    "lsh.s": "s",
    "lsh.candidate_pairs": "count",
    "lsh.useful_pair_frac": "ratio",
    "cc.s": "s",
    "cc.jobs": "count",
}
WORKLOAD_NAMES = tuple(workloads.WORKLOADS)
for _w in WORKLOAD_NAMES:
    PER_LAYER[f"spark.{_w}.jobs_per_pass"] = "count"
    PER_LAYER[f"spark.{_w}.stages_per_pass"] = "count"
    PER_LAYER[f"spark.{_w}.tasks_per_pass"] = "count"
    PER_LAYER[f"trace.{_w}.layers_s"] = "s"


def _log(msg: str) -> None:
    print(msg, file=sys.stderr, flush=True)


# session.get_spark reads these; the benchmark runs on its defaults
# (local[<cores>], its driver heap, no pre-touch), whatever the caller set
SESSION_ENV = ("SPARK_GRAFT_CPUS", "SPARK_GRAFT_MASTER", "SPARK_GRAFT_DRIVER_MEM",
               "SPARK_GRAFT_PRETOUCH")
# the master and driver heap of the last session started, for the # host line
SESSION_SHAPE: dict = {}


def _isolate(work: str) -> None:
    """Keep every file Spark, the JVM and Python write inside ``work``,
    and clear the variables that would change the session's shape."""
    for k in SESSION_ENV:
        os.environ.pop(k, None)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    # -UsePerfData: the JVM would otherwise keep /tmp/hsperfdata_<user>/<pid>
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    tempfile.tempdir = None


def start_spark(work: str):
    from copperhead_spark.session import get_spark

    spark = get_spark(
        "perfbench",
        extra_conf={
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.local.dir": os.environ["SPARK_LOCAL_DIRS"],
            "spark.ui.showConsoleProgress": "false",
        },
    )
    sc = spark.sparkContext
    SESSION_SHAPE.update(master=sc.master, driver_memory=sc.getConf().get("spark.driver.memory"))
    return spark


def stop_spark(spark) -> None:
    """Stop the session, end the JVM and wait until every process this
    run started has exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        proc = gateway.proc
        gateway.shutdown()
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001 - a JVM that will not exit is killed
            proc.kill()
            proc.wait(timeout=30)
        SparkContext._gateway = None
        SparkContext._jvm = None
    deadline = time.monotonic() + 60
    while len(measure.tree_pids()) > 1 and time.monotonic() < deadline:
        time.sleep(0.1)


# the first warm pass still carries JIT compilation (measured: the JVM's
# CPU per pass fell 15.6, 10.8, 6.4 CPU-s over three warm passes of
# root_to_templates), so the median is taken over at least two
MIN_WARM = 2


def run_passes(wl, spark, seconds: float, after_cold) -> dict:
    """One cold pass, ``after_cold()``, then warm passes back to back until
    ``seconds`` have passed, at least ``MIN_WARM`` of them."""
    walls, cpus, prints = [], [], []
    t_warm = None
    while len(walls) < 1 + MIN_WARM or time.perf_counter() - t_warm < seconds:
        c0, t0 = measure.tree_cpu_s(), time.perf_counter()
        prints.append(wl.run_pass(spark))
        walls.append(time.perf_counter() - t0)
        cpus.append(measure.tree_cpu_s() - c0)
        if t_warm is None:
            after_cold()
            t_warm = time.perf_counter()
    return {"walls": walls, "cpus": cpus, "prints": prints}


def end_to_end(args, wl, work: str) -> dict:
    mem = measure.MemorySampler().start()
    try:
        t0 = time.perf_counter()
        spark = start_spark(work)
        session_s = time.perf_counter() - t0
        try:
            gen_s = wl.setup(args.seed)
            # peak memory of what one stage-script run pays: set-up and
            # the cold pass.  Over the warm passes the JVM touches more of
            # its pinned heap by a GC-timing-dependent amount (measured:
            # 2.0 vs 2.6 GB after one warm pass of the same inputs).
            res = run_passes(wl, spark, args.seconds, after_cold=mem.stop)
            errors = wl.check(spark, args.seed)
        finally:
            stop_spark(spark)
    finally:
        mem.stop()
    metrics = {
        "setup_s": session_s + gen_s,
        "cpu_s_per_mrow": statistics.median(res["cpus"][1:]) / wl.rows * 1e6,
        "first_pass_cpu_s_per_mrow": res["cpus"][0] / wl.rows * 1e6,
        "peak_rss_mb": mem.peak / 1e6,
    }
    failed = sum(1 for p in res["prints"] if errors or p != res["prints"][-1])
    # pass walls follow the host's CPU steal too closely to be metrics
    # (README.md); they are logged as context
    _log(f"passes: {len(res['walls'])} walls: {[round(w, 3) for w in res['walls']]}"
         f" cpus: {[round(c, 2) for c in res['cpus']]}")
    _log(f"session_s {session_s:.3f} gen_s {gen_s:.3f}")
    for e in errors:
        _log(f"CHECK FAILED: {e}")
    return {
        "correct": not errors,
        "attempted": len(res["walls"]),
        "failed": failed,
        "metrics": {k: {"value": v, "unit": END_TO_END[k]} for k, v in metrics.items()},
    }


def traced(args, classes, work: str, spans_path: str) -> dict:
    """For every workload: one pass under its own job group (the Spark
    job/stage/task counts) and its check, then its traced layer sequence."""
    tr = measure.Tracer()
    with tr.span("session"):
        spark = start_spark(work)
    tr.sc = spark.sparkContext
    metrics = {"session.start_s": tr.seconds("session")}
    attempted = failed = 0
    errors: list[str] = []
    try:
        for cls in classes:
            wl = cls(os.path.join(work, cls.name), smoke=args.smoke)
            wl.setup(args.seed)
            # the pass also warms the session up, so the layers below are
            # timed warm, like the end-to-end cpu_s_per_mrow they map to
            with tr.span(f"pass.{wl.name}"):
                wl.run_pass(spark)
            c = tr.counts(f"pass.{wl.name}")
            for k in ("jobs", "stages", "tasks"):
                metrics[f"spark.{wl.name}.{k}_per_pass"] = c[k]
            errs = wl.check(spark, args.seed)
            attempted += 1
            failed += bool(errs)
            errors += errs
            with tr.span(f"trace.{wl.name}"):
                metrics.update(wl.trace(spark, tr))
            metrics[f"trace.{wl.name}.layers_s"] = tr.seconds(f"trace.{wl.name}")
    finally:
        stop_spark(spark)
        tr.dump(spans_path)
    for e in errors:
        _log(f"CHECK FAILED: {e}")
    missing = set(PER_LAYER) - set(metrics)
    if missing:
        raise RuntimeError(f"traced run did not produce {sorted(missing)}")
    return {
        "correct": not errors,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": metrics[k], "unit": u} for k, u in PER_LAYER.items()},
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", choices=WORKLOAD_NAMES)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=1.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true",
                    help="tiny inputs: every workload's traced sequence, one pass and its check")
    args = ap.parse_args(argv)
    if not args.smoke and args.workload is None:
        ap.error("--workload is required unless --smoke is given")

    if not os.path.isdir(os.path.join(ROOT, "copperhead_spark")):
        _log(f"perfbench: no copperhead_spark package under {ROOT}; run from a checkout root")
        return 2
    sys.path.insert(0, ROOT)

    work = os.path.join(HERE, "_work", f"{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    _isolate(work)
    host = measure.host_shape()
    steal0, ticks0 = measure.cpu_ticks()
    spans = os.path.join(HERE, "_work", "spans",
                         f"{args.workload or 'smoke'}-seed{args.seed}-{os.getpid()}.jsonl")
    try:
        if args.smoke or args.trace:
            result = traced(args, list(workloads.WORKLOADS.values()), work, spans)
        else:
            wl = workloads.WORKLOADS[args.workload](work, smoke=False)
            result = end_to_end(args, wl, work)
    except Exception:  # noqa: BLE001 - report, print no result, exit non-zero
        traceback.print_exc()
        return 1
    finally:
        shutil.rmtree(work, ignore_errors=True)
    steal1, ticks1 = measure.cpu_ticks()
    host["steal_pct"] = round(100 * (steal1 - steal0) / max(ticks1 - ticks0, 1), 2)
    host.update(SESSION_SHAPE)
    print("# host " + json.dumps(host, sort_keys=True), flush=True)
    if args.trace or args.smoke:
        _log(f"spans written to {spans}")
    print(json.dumps(result, sort_keys=True), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
