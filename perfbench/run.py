"""Crawl-engine benchmark: one workload, one process, one closed-loop client.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. Spark runs as ``local[N]`` with N = the
CPUs this process may use (``nproc``). Everything the run writes goes
under ``.bench_work/`` in the current directory. The last stdout line is
one JSON object ``{"correct", "attempted", "failed", "metrics"}``; with
``--trace 0`` the metrics are the end-to-end ones, with ``--trace 1``
the per-layer ones (Spark's event log on, layer spans recorded). A
human-readable summary goes to stderr. See perfbench/README.md.
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

ROOT = os.getcwd()
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench import host, metrics, stats, trace  # noqa: E402
from perfbench.workloads import WORKLOADS, Ctx, crawl_world  # noqa: E402


def _engine_present() -> bool:
    return os.path.isfile(os.path.join(ROOT, "webcrawlerfull_spark", "__init__.py")) and (
        os.path.isfile(os.path.join(ROOT, "__spark_entry__.py"))
    )


# JVM options per workload. A crawl is one short job whose wall is the
# driver's planning path: C2 compiles (~55 s of CPU over a crawl on 4
# cores) never pay back there and compete with the tasks, so crawls run
# C1 only (set-up ~18% shorter, crawl wall no worse, process CPU
# halved). The query mix repeats hot loops, where C2 code is ~30% faster.
C1_ONLY = "-XX:TieredStopAtLevel=1 -XX:ReservedCodeCacheSize=240m"
JAVA_OPTS = {"crawl_budgeted": C1_ONLY, "crawl_parity": C1_ONLY}


def configure(work: str, traced: bool, java_opts: str = "") -> str:
    """Point every temp/scratch location of Python, the JVM and Spark
    inside ``work``; returns the event-log dir (used when traced)."""
    tmp = os.path.join(work, "tmp")
    events = os.path.join(work, "eventlog")
    for d in (tmp, events):
        os.makedirs(d, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "2g")
    # Python workers import the engine from the checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -Dderby.system.home={tmp} {java_opts}".strip(),
    }
    if traced:
        conf |= {
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + events,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        }
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
        f"--conf {k}={v}" if " " not in v else f'--conf "{k}={v}"' for k, v in conf.items()
    ) + " pyspark-shell"
    return events


def stop(spark) -> None:
    """Stop Spark, shut the JVM down and wait for every child to end."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    if gw is not None:
        gw.shutdown()
        proc = getattr(gw, "proc", None)
        if proc is not None:
            if proc.stdin:
                proc.stdin.close()
            proc.wait(timeout=60)
        SparkContext._gateway = SparkContext._jvm = None
    deadline = time.monotonic() + 30
    while len(host.tree_pids(os.getpid())) > 1 and time.monotonic() < deadline:
        time.sleep(0.2)


def end_to_end(res, peak_rss_mb: float) -> dict[str, float]:
    return {
        "setup_s": res.setup_s,
        "wall_s": statistics.median(res.walls),
        "throughput_per_s": res.units / sum(res.walls),
        "op_latency_s": res.op_latency_s,
        "cpu_s": statistics.median(res.cpus),
        "peak_rss_mb": peak_rss_mb,
        "disk_mb": res.disk_mb,
    }


def per_layer(res, tracer, events_dir: str, kernel: dict) -> dict[str, float]:
    groups = trace.read_event_log(events_dir)
    reps = len(res.walls)
    lm = trace.layer_metrics(tracer.spans, groups, reps)
    ex = res.extra

    def rows_written(tables) -> float:
        sids = {s.sid for s in tracer.spans if s.name in tables}
        return sum(c["out_rows"] for g, c in groups.items() if g in sids)

    fetched = ex.get("fetched", 0)
    ratios = {
        "schedule.yield": fetched / ex["candidates"] if ex.get("candidates") else 0.0,
        "parse_spans.ok_ratio": ex["parsed"] / fetched if fetched else 0.0,
        "parse_spans.cpu_vs_kernel": (
            lm.get("parse_spans.task_cpu_s", 0.0) * reps / fetched / kernel["cpu_s_per_page"]
            if fetched else 0.0
        ),
        "textdedup.kept_ratio": (
            1 - ex["docs_deduped"] / ex["parsed"]
            if ex.get("parsed") and "textdedup.wall_s" in lm else 0.0
        ),
        "frontier.new_per_fetched": (
            rows_written({"frontier", "frontier_q"}) / fetched if fetched else 0.0
        ),
        "spark.failed_tasks": sum(c["failed_tasks"] for c in groups.values()),
        "kernel.pages_per_s": kernel["pages_per_s"],
        "trace.wall_s": statistics.median(res.walls),
    }
    # a layer the workload does not exercise reports 0
    return {name: ratios.get(name, lm.get(name, 0.0)) for name, _, _ in metrics.PER_LAYER}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not _engine_present():
        print(f"perfbench: no engine sources (webcrawlerfull_spark/, __spark_entry__.py) "
              f"in {ROOT}", file=sys.stderr)
        return 2

    work = os.path.join(ROOT, ".bench_work", "run")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    traced = bool(args.trace)
    events_dir = configure(work, traced, JAVA_OPTS.get(args.workload, ""))
    cores = len(os.sched_getaffinity(0))

    # Spark-free host control first, on a quiet host
    steal0 = host.steal_s()
    kernel = host.kernel_control(crawl_world(args.seed))

    t0 = time.monotonic()
    from webcrawlerfull_spark.session import get_spark

    spark = get_spark(app_name="perfbench", master=f"local[{cores}]", shuffle_partitions=cores)
    spark.sparkContext.setLogLevel("ERROR")
    session_s = time.monotonic() - t0

    me = os.getpid()
    tracer = trace.Tracer(sc=spark.sparkContext) if traced else None
    ctx = Ctx(spark=spark, seed=args.seed, seconds=args.seconds, cores=cores,
              work=work, cpu=lambda: host.tree_cpu_s(me), tracer=tracer)
    try:
        with host.PeakRss(me) as rss:
            if tracer is not None:
                with trace.instrument(tracer):
                    res = WORKLOADS[args.workload](ctx)
            else:
                res = WORKLOADS[args.workload](ctx)
    finally:
        stop(spark)
    res.setup_s += session_s

    units = {n: u for n, u, _ in (metrics.PER_LAYER if traced else metrics.END_TO_END)}
    if not res.walls:  # every operation crashed: nothing was timed
        out = dict.fromkeys(units, 0.0)
    elif traced:
        out = per_layer(res, tracer, events_dir, kernel)
    else:
        out = end_to_end(res, rss.peak_mb)
    if traced:
        trace_dir = os.path.join(ROOT, ".bench_work", "trace")
        os.makedirs(trace_dir, exist_ok=True)
        tracer.dump(os.path.join(trace_dir, f"{args.workload}-seed{args.seed}.spans.jsonl"))

    tail = stats.highest_supported(res.ops)
    print(json.dumps({
        "workload": args.workload, "seed": args.seed, "cores": cores,
        "walls": [round(w, 3) for w in res.walls], "ops": len(res.ops),
        "op_tail": f"p{tail[0]}={tail[1]:.4f}s" if tail else "none (too few samples)",
        "kernel": kernel, "steal_s": round(host.steal_s() - steal0, 2),
        "outputs": res.outputs, "errors": res.errors[:5],
        "per_query_median_s": {
            k: round(statistics.median(v), 4)
            for k, v in res.extra.get("per_query", {}).items() if v
        },
    }), file=sys.stderr)
    shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({
        "correct": res.failed == 0,
        "attempted": res.attempted,
        "failed": res.failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in out.items()},
    }), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
