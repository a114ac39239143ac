"""Benchmark of the engine's users, at sf0.01 on local[4].

    python3 perfbench/run.py --workload tracker|curation \
        --seed N --seconds S --trace 0|1

Run from the root of a checkout. The workloads (see workloads.py):

  tracker    the scheduled price ETL lands a batch through the
             idempotent stream and the batch ETL and reads it back,
             then the Dashboard and Trades page queries run one at a
             time; the per-query fixed cost, and the io, jobs and
             streaming layers, do their work here
  curation   rebuild of the shared LSH/connected-components state,
             then the kernels that read it; shuffle and persisted
             storage do their work here

Each run sets up (session, staged inputs, one warm-up cycle), then
repeats whole cycles of its mix until ``--seconds`` have passed, then
checks every answer. The last line of stdout is the result; the line
before it is a summary: the end-to-end metrics again, with the tail
read (``query_tail_s``, the percentile it is at and the read count),
``failed_frac``, ``peak_rss_mb`` and the figures only one workload has
(``build_s``; ``upsert_p50_s``, ``stream_commit_p50_s`` and
``ingest_rows_per_s``), each with its unit.

With ``--trace 0`` the result holds the end-to-end metrics: ``setup_s``
(script start until warm-up is done), ``query_p50_s`` (median read,
builder call to pandas frame) and ``queries_per_s`` (reads per second
of operation time, builds and writes included). With ``--trace 1`` it
holds the per-layer metrics, read from Spark's status store, plan
tracker and streaming listener; the traced run's own ``query_p50_s``
and ``queries_per_s`` are repeated under ``trace.`` so the tracing
overhead is the difference from an untraced run.
"""

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import random  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SF_DIR = os.path.join(HERE, "data", "sf0.01")
CORES = 4
DRIVER_MEM = "3g"
# jobs and stages Spark's status store keeps; the traced run reads them
# back after every operation, and one curation build submits hundreds
RETAINED = 5000


def pin_environment(work: str) -> None:
    """Fix everything the program reads from the environment, and keep
    Spark's scratch files inside the work directory."""
    for var in ("SPARK_GRAFT_MASTER", "SPARK_GRAFT_SCHEDULER",
                "SPARK_GRAFT_SF_DIR"):
        os.environ.pop(var, None)
    local, tmp = os.path.join(work, "local"), os.path.join(work, "tmp")
    os.makedirs(local)
    os.makedirs(tmp)
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(CORES),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        # Python workers import the package from the checkout
        "PYTHONPATH": os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
        "PYSPARK_PYTHON": sys.executable,
        "SPARK_LOCAL_DIRS": local,
        "TMPDIR": tmp,
        # spark-submit's launcher JVM: no hsperfdata files in /tmp either
        "SPARK_LAUNCHER_OPTS": "-XX:-UsePerfData",
        "PYSPARK_SUBMIT_ARGS": " ".join([
            "--conf spark.ui.showConsoleProgress=false",
            f"--conf spark.ui.retainedJobs={RETAINED}",
            f"--conf spark.ui.retainedStages={RETAINED}",
            # no hsperfdata files in /tmp
            f"--driver-java-options '-XX:-UsePerfData -Djava.io.tmpdir={tmp}'",
            "pyspark-shell"]),
    })


def tail(values: list[float]) -> tuple[float, int]:
    """The highest percentile with at least 10 samples beyond it, and
    which percentile that is; the maximum when there are 10 or fewer."""
    xs = sorted(values)
    n = len(xs)
    if n <= 10:
        return xs[-1], 100
    return xs[n - 11], int(100 * (n - 10) / n)


def summarize(wl, ops: list[dict], setup_s: float, failed_frac: float,
              rss_mb: float) -> tuple[dict, dict]:
    """The end-to-end metrics, and the summary: name -> (value, unit)."""
    from workloads import Curation, Tracker, median

    reads = [o["wall_s"] for o in ops if o["kind"] == "read"]
    e2e = {
        "setup_s": setup_s,
        "query_p50_s": median(reads),
        "queries_per_s": len(reads) / sum(o["wall_s"] for o in ops),
    }
    tail_s, tail_pct = tail(reads)
    summary = {
        "setup_s": (setup_s, "s"),
        "query_p50_s": (e2e["query_p50_s"], "s"),
        "queries_per_s": (e2e["queries_per_s"], "1/s"),
        "query_tail_s": (tail_s, "s"),
        "query_tail_pct": (tail_pct, "percentile"),
        "reads": (len(reads), "count"),
        "failed_frac": (failed_frac, "ratio"),
        "peak_rss_mb": (rss_mb, "MB"),
    }
    walls = lambda kind: [o["wall_s"] for o in ops if o["kind"] == kind]  # noqa: E731
    if isinstance(wl, Curation):
        summary["build_s"] = (median(walls("build")), "s")
    if isinstance(wl, Tracker):
        summary.update({
            "upsert_p50_s": (median(walls("upsert")), "s"),
            "stream_commit_p50_s": (median(walls("stream")), "s"),
            "ingest_rows_per_s": (sum(o["inserted"] for o in ops
                                      if o["kind"] == "upsert")
                                  / sum(walls("upsert")), "rows/s"),
        })
    return e2e, summary


def per_layer(wl, ops: list[dict], session_s: float, rss_mb: float,
              e2e: dict) -> dict:
    """Per-layer metrics of a traced run."""
    from workloads import median

    reads = [o for o in ops if o["kind"] == "read"]
    op_s = sum(o["wall_s"] for o in ops)
    # an operation that failed may lack some of these
    per_op = lambda k: sum(o.get(k, 0) for o in ops) / len(ops)  # noqa: E731
    of_reads = lambda k: median([o[k] for o in reads if k in o])  # noqa: E731
    return {
        "session.start_s": session_s,
        "operators.construct_s": of_reads("construct_s"),
        "catalyst.plan_s": of_reads("plan_s"),
        "catalyst.analysis_s": of_reads("analysis_s"),
        "catalyst.optimization_s": of_reads("optimization_s"),
        "catalyst.planning_s": of_reads("planning_s"),
        "scheduler.jobs": per_op("jobs"),
        "scheduler.stages": per_op("stages"),
        "scheduler.tasks": per_op("tasks"),
        "driver.overhead_s": median(
            [o["wall_s"] - o["run_s"] / CORES for o in reads if "run_s" in o]),
        "executor.run_s": per_op("run_s"),
        "executor.cpu_s": per_op("cpu_s"),
        "executor.busy_frac": per_op("run_s") * len(ops) / (op_s * CORES),
        "executor.shuffle_write_bytes": per_op("shuffle_write_bytes"),
        "executor.shuffle_read_bytes": per_op("shuffle_read_bytes"),
        "executor.spill_bytes": per_op("spill_bytes"),
        "fetch.s": of_reads("fetch_s"),
        "fetch.rows": sum(o.get("rows", 0) for o in reads) / len(reads),
        "process.peak_rss_mb": rss_mb,
        "trace.query_p50_s": e2e["query_p50_s"],
        "trace.queries_per_s": e2e["queries_per_s"],
        **wl.layer_metrics(ops),
    }


def stop_spark(spark) -> None:
    """Stop the session, then the JVM, and wait for it to exit."""
    from pyspark import SparkContext
    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        proc.wait(timeout=60)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=("tracker", "curation"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if not os.path.isfile(os.path.join(ROOT, "__spark_entry__.py")):
        print(f"no engine next to {HERE}: run from the root of a checkout",
              file=sys.stderr)
        return 2

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)  # metric names and units
    warehouse = os.path.join(ROOT, "spark-warehouse")
    had_warehouse = os.path.isdir(warehouse)
    work_parent = os.path.join(ROOT, ".bench_work")
    os.makedirs(work_parent, exist_ok=True)
    work = tempfile.mkdtemp(dir=work_parent)
    spark = oracle = None
    try:
        pin_environment(work)
        sys.path.insert(0, ROOT)
        import __spark_entry__ as E
        from etl_portfolio_tracker_spark.session import get_spark
        import layers
        from oracle import Oracle
        from workloads import Curation, Runner, Tracker

        t0 = time.perf_counter()
        spark = get_spark("perfbench")
        session_s = time.perf_counter() - t0
        runner = Runner(spark, bool(args.trace))
        rng = random.Random(args.seed)
        if args.workload == "curation":
            wl = Curation(runner, SF_DIR)
        else:
            wl = Tracker(runner, SF_DIR, rng, work)
        wl.setup()
        setup_s = time.perf_counter() - T_START

        runner.measuring = True
        t_loop = time.perf_counter()
        while time.perf_counter() - t_loop < args.seconds and wl.has_next():
            wl.cycle()
        runner.measuring = False

        rss_mb = layers.peak_rss_mb(os.getpid(),
                                    spark.sparkContext._gateway.proc.pid)
        oracle = Oracle(SF_DIR, os.path.join(HERE, ".cache"), E.oracle_sql())
        runner.check_answers(oracle)
        wl.close()
        attempted = len(runner.ops)
        failed = sum(not o["ok"] for o in runner.ops)
        ops = [o for o in runner.ops if o["measured"]]
        e2e, summary = summarize(wl, ops, setup_s, failed / attempted, rss_mb)
        if args.trace:
            specs = spec["per_layer"]
            # layers the workload does not exercise read 0
            values = {**{m["name"]: 0 for m in specs},
                      **per_layer(wl, ops, session_s, rss_mb, e2e)}
        else:
            values, specs = e2e, spec["end_to_end"]
        if set(values) != {m["name"] for m in specs}:
            raise KeyError(f"metrics differ from BENCHMARK.json: "
                           f"{sorted(set(values) ^ {m['name'] for m in specs})}")
    finally:
        if oracle is not None:
            oracle.close()
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
        if not os.listdir(work_parent):
            os.rmdir(work_parent)
        # the curation build writes its band-key index next to the engine
        shutil.rmtree(os.path.join(warehouse, "_bandkey_index_sf0.01"),
                      ignore_errors=True)
        if not had_warehouse and os.path.isdir(warehouse) \
                and not os.listdir(warehouse):
            os.rmdir(warehouse)

    print(json.dumps({"workload": args.workload, "seed": args.seed,
                      "summary": {k: {"value": v, "unit": u}
                                  for k, (v, u) in summary.items()}}))
    print(json.dumps({
        "correct": failed == 0, "attempted": attempted, "failed": failed,
        "metrics": {m["name"]: {"value": values[m["name"]],
                                "unit": m["unit"]} for m in specs},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
