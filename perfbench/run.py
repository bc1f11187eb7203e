"""Seeded benchmark for the extraction entry points.

Run from the repository root:

    python3 perfbench/run.py --workload flagship_extract --seed 1 \
        --seconds 10 --trace 0

``--workload all`` runs every workload of BENCHMARK.json in turn, each
in its own process; with ``--trace 1`` it runs each workload untraced
and traced and also reports ``<workload>.trace.overhead_s``.

The last line of standard output is one JSON object: ``{"correct",
"attempted", "failed", "metrics"}``.  With ``--trace 0`` the metrics are
the end-to-end metrics of BENCHMARK.json; with ``--trace 1`` they are
its per-layer metrics, and a layer the workload's path does not enter
reads 0.

A run: set-up (JVM launch and Spark session, corpus generation, load
and persist), untimed warm-up (one run of the entry point, whose output
for the first docs is diffed against the pure-Python oracle, plus the
workload's ``extra_warmups`` iterations), then timed
iterations for ``--seconds``.  Progress, load average and
per-iteration walls go to standard error; the full record goes to
.perfbench/results/.
"""

from __future__ import annotations

import argparse
import gc
import importlib.util
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
CPUS = 4
DEFAULT_DOCS = 3000
#: timed iterations a run makes even when they outlast ``--seconds``
MIN_ITERATIONS = 2
#: driver heap; local mode runs every task inside it
DRIVER_MEM = "2g"


_T0 = time.perf_counter()


def log(msg: str) -> None:
    print(f"[perfbench {time.perf_counter() - _T0:6.1f}s] {msg}",
          file=sys.stderr, flush=True)


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--docs", type=int, default=DEFAULT_DOCS,
                    help="corpus size")
    ap.add_argument("--expect-offset", type=int, default=0,
                    help="add this to the expected row count; a non-zero "
                         "value makes every timed iteration fail its check")
    return ap.parse_args(argv)


def load_benchmark() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


# ---------------------------------------------------------------------------
# --workload all
# ---------------------------------------------------------------------------

def run_child(args, workload: str, trace: int) -> dict:
    cmd = [sys.executable, os.path.abspath(__file__), "--workload", workload,
           "--seed", str(args.seed), "--seconds", str(args.seconds),
           "--trace", str(trace), "--docs", str(args.docs),
           "--expect-offset", str(args.expect_offset)]
    proc = subprocess.run(cmd, stdout=subprocess.PIPE, text=True)
    lines = proc.stdout.strip().splitlines()
    if proc.returncode not in (0, 1) or not lines:
        raise SystemExit(f"{workload}: exited {proc.returncode} "
                         "without a result")
    print(f"{workload} trace={trace}: {lines[-1]}", flush=True)
    return json.loads(lines[-1])


def run_all(args, bench) -> int:
    correct, attempted, failed, metrics = True, 0, 0, {}
    for w in (w["name"] for w in bench["workloads"]):
        for trace in ((0, 1) if args.trace else (0,)):
            res = run_child(args, w, trace)
            correct &= res["correct"]
            attempted += res["attempted"]
            failed += res["failed"]
            metrics.update({f"{w}.{k}": v for k, v in res["metrics"].items()})
        if args.trace and f"{w}.wall_s" in metrics:
            metrics[f"{w}.trace.overhead_s"] = {
                "value": (metrics[f"{w}.trace.wall_s"]["value"]
                          - metrics[f"{w}.wall_s"]["value"]), "unit": "s"}
    print(json.dumps({"correct": correct, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 0 if correct else 1


# ---------------------------------------------------------------------------
# one workload
# ---------------------------------------------------------------------------

class Context:
    def __init__(self, args, work: str) -> None:
        self.seed = args.seed
        self.n_docs = args.docs
        self.offset = args.expect_offset
        self.work = work


def configure_env(work: str, trace: bool) -> None:
    """Keep every file the run writes inside ``work``, let Spark's
    Python workers import the package from any cwd, and in a traced run
    turn on Spark's event log through the spark-submit arguments."""
    from .probes import event_log_conf
    for d in ("local", "tmp", "eventlog"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    paths = [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(
        os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}")
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    # the session's GC choice, plus a heap that starts at its full size:
    # a heap grown on demand made job_lineage iterations drift from 10.3
    # to 7.3 s over six iterations
    os.environ["SPARK_GRAFT_DRIVER_JAVA_OPTS"] = (
        f"-XX:+UseParallelGC -Xms{DRIVER_MEM}")
    conf = {"spark.ui.showConsoleProgress": "false"}
    if trace:
        conf.update(event_log_conf(os.path.join(work, "eventlog")))
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
        f"--conf {k}={v}" for k, v in conf.items()) + " pyspark-shell"


def stop_spark(spark) -> None:
    """Stop the session, then the gateway JVM, and wait for it to exit."""
    from pyspark import SparkContext
    if spark is not None:
        spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def iterate(wl, spark, seconds: float, label: str, record: dict) -> dict:
    """Closed loop: the next iteration starts when the last one ends,
    until ``seconds`` have passed and at least MIN_ITERATIONS were made.
    GC runs between iterations."""
    from .workloads import Failure
    walls, failed, attempted = [], 0, 0
    t_start = time.perf_counter()
    while (attempted < MIN_ITERATIONS
           or time.perf_counter() - t_start < seconds):
        gc.collect()
        spark._jvm.System.gc()
        tag = f"perfbench-{label}-{attempted}"
        spark.sparkContext.setJobGroup(tag, tag)
        attempted += 1
        try:
            walls.append(wl.iteration(spark, tag))
            msg = f"{label} iteration {attempted}: {walls[-1]:.3f} s"
        except Failure as e:
            failed += 1
            msg = f"{label} iteration {attempted}: FAILED ({e})"
        except Exception:  # an iteration that raised counts as failed
            failed += 1
            msg = (f"{label} iteration {attempted}: FAILED (raised)\n"
                   + traceback.format_exc())
        log(msg)
        record["log"].append(msg)
    spark.sparkContext.setJobGroup("perfbench-layers", "")
    return {"walls": walls, "attempted": attempted, "failed": failed}


def measure(args, ctx: Context, record: dict) -> tuple[dict, dict]:
    from crego_document_extractor_spark.session import get_spark

    from . import probes
    from .workloads import WORKLOADS, Failure

    wl = WORKLOADS[args.workload](ctx)
    spark = None
    try:
        t0 = time.perf_counter()
        spark = get_spark(master=f"local[{CPUS}]")  # launches the JVM
        spark.sparkContext.setLogLevel("ERROR")
        t1 = time.perf_counter()
        wl.generate(os.path.join(ctx.work, "gen"))
        t2 = time.perf_counter()
        wl.load(spark)
        t3 = time.perf_counter()
        setup = {"session_s": t1 - t0, "gen_s": t2 - t1, "load_s": t3 - t2,
                 "total_s": t3 - t0}
        log(f"set-up: {t3 - t0:.2f} s")

        t0 = time.perf_counter()
        spark.sparkContext.setJobGroup("perfbench-warm", "")
        verify = wl.warmup(spark)
        for k in range(wl.extra_warmups):
            try:
                wall = wl.iteration(spark, f"perfbench-warm-{k + 1}")
                log(f"warm-up iteration {k + 1}: {wall:.3f} s")
            except Failure:
                pass  # reported by the timed iterations
        warm_s = time.perf_counter() - t0
        mismatches = verify()
        log(f"warm-up {warm_s:.2f} s; oracle mismatches: {len(mismatches)}")
        for m in mismatches[:10]:
            log(f"  {m}")

        host0 = probes.host_snapshot()
        label = "traced" if args.trace else "timed"
        with probes.RssSampler() as rss:
            phase = iterate(wl, spark, args.seconds, label, record)
        host1 = probes.host_snapshot()
        layers = wl.layers(spark, phase["walls"]) if args.trace else {}
    finally:
        stop_spark(spark)
    for m in wl.layer_failures:
        log(f"traced check failed: {m}")
    mismatches += wl.layer_failures

    walls = phase["walls"]
    record.update(setup=setup, warm_s=warm_s, mismatches=mismatches[:50],
                  walls=walls, steal_frac=probes.steal_frac(host0, host1))
    counts = {"attempted": phase["attempted"], "failed": phase["failed"],
              "correct": not mismatches and phase["failed"] == 0}

    if not args.trace:
        values = {
            "setup_s": setup["total_s"] + warm_s,
            "ok_frac": 1 - phase["failed"] / phase["attempted"],
            "peak_rss_mb": rss.peak / 2**20,
        }
        if walls:  # no time is reported for iterations that failed
            values["wall_s"] = statistics.median(walls)
            values["docs_per_s"] = ctx.n_docs / values["wall_s"]
        return counts, values

    groups = probes.read_event_log(os.path.join(ctx.work, "eventlog"),
                                   "perfbench-traced-")
    record["spark_iterations"] = {
        g: {"jobs": r["jobs"], "task_max_s": max(r["tasks"], default=0.0),
            "task_sum_s": sum(r["tasks"]), "gc_s": r["gc_s"],
            "shuffle_bytes": r["shuffle"]} for g, r in sorted(groups.items())}
    values = dict(layers)
    values.update(probes.spark_layer_metrics(groups))
    values["session.start_s"] = setup["session_s"]
    values["corpus.gen_s"] = setup["gen_s"]
    if walls:
        values["trace.wall_s"] = statistics.median(walls)
    return counts, values


def main(argv=None) -> int:
    args = parse_args(argv)
    bench = load_benchmark()
    if args.workload == "all":
        return run_all(args, bench)
    names = [w["name"] for w in bench["workloads"]]
    if args.workload not in names:
        log(f"unknown workload {args.workload!r}; choose from {names}")
        return 2
    sys.path.insert(0, ROOT)
    if importlib.util.find_spec("crego_document_extractor_spark") is None:
        log("the crego_document_extractor_spark package is not next to "
            "perfbench/; run from a full checkout")
        return 2

    work = os.path.join(ROOT, ".perfbench",
                        f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    from . import probes
    record = {"args": vars(args), "log": [],
              "host_start": probes.host_snapshot()}
    configure_env(work, bool(args.trace))
    try:
        counts, values = measure(args, Context(args, work), record)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    record["host_end"] = probes.host_snapshot()

    specs = bench["per_layer"] if args.trace else bench["end_to_end"]
    if args.trace:  # layers off this workload's path read 0
        values = {m["name"]: values.get(m["name"], 0.0) for m in specs}
    else:
        values = {m["name"]: values[m["name"]] for m in specs
                  if m["name"] in values}
    record["metrics"] = values
    results = os.path.join(ROOT, ".perfbench", "results")
    os.makedirs(results, exist_ok=True)
    with open(os.path.join(results, f"{args.workload}-seed{args.seed}"
                           f"-trace{args.trace}.json"), "w") as f:
        json.dump(record, f, indent=1)
    log(f"loadavg start {record['host_start']['loadavg']} "
        f"end {record['host_end']['loadavg']}; "
        f"cpu steal while timed {record['steal_frac']:.1%}")
    units = {m["name"]: m["unit"] for m in specs}
    print(json.dumps({
        "correct": counts["correct"], "attempted": counts["attempted"],
        "failed": counts["failed"],
        "metrics": {k: {"value": float(v), "unit": units[k]}
                    for k, v in values.items()}}))
    return 0 if counts["correct"] else 1


if __name__ == "__main__":
    if __package__ in (None, ""):
        # run as a script: import this directory as the perfbench package
        sys.path.insert(0, ROOT)
        from perfbench.run import main as _main
        sys.exit(_main())
    sys.exit(main())
