"""Record the expected outputs per workload and seed into pins.json.

    python3 perfbench/pin.py <workload> <first_seed> <last_seed>

Run from the repository root, on the commit whose outputs are the
reference. The crawl pins are the fetched, product and seen counts of
one crawl; the query pins are each query's (rows, checksum), and a
query whose Spark result differs from its DuckDB ``oracle_sql()``
result is refused instead of pinned.
"""

from __future__ import annotations

import json
import os
import shutil
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench import check, host, run, workloads  # noqa: E402


def main(workload: str, first: int, last: int) -> int:
    work = os.path.join(run.ROOT, ".bench_work", "pin")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    run.configure(work, traced=False)
    cores = len(os.sched_getaffinity(0))
    from webcrawlerfull_spark.session import get_spark

    spark = get_spark(app_name="perfbench-pin", master=f"local[{cores}]", shuffle_partitions=cores)
    spark.sparkContext.setLogLevel("ERROR")
    me = os.getpid()
    pins = check.load_pins()
    bad = 0
    try:
        for seed in range(first, last + 1):
            ctx = workloads.Ctx(spark=spark, seed=seed, seconds=0, cores=cores,
                                work=os.path.join(work, str(seed)),
                                cpu=lambda: host.tree_cpu_s(me))
            if workload == "operator_queries":
                got = _query_pins(ctx)
            else:
                res, _ = workloads._crawl(
                    ctx, workload, workloads.crawl_world(seed, workload),
                    os.path.join(ctx.work, "catalog"),
                    workloads.BUDGET_ROUNDS if workload == "crawl_budgeted" else None,
                )
                got, _, broken = workloads._crawl_outputs(res, workload)
                if broken:
                    got = None
                    print(f"seed {seed}: invariants broken: {broken}", file=sys.stderr)
            if got is None:
                bad += 1
                continue
            pins.setdefault(workload, {})[str(seed)] = got
            print(f"seed {seed}: {got}", file=sys.stderr, flush=True)
            shutil.rmtree(ctx.work, ignore_errors=True)
            with open(check.PINS_PATH, "w") as f:
                json.dump(pins, f, indent=1, sort_keys=True)
                f.write("\n")
    finally:
        run.stop(spark)
        shutil.rmtree(work, ignore_errors=True)
    return 1 if bad else 0


def _query_pins(ctx) -> dict | None:
    from perfbench import corpus

    sf_dir = corpus.write_corpus(os.path.join(ctx.work, "corpus"), ctx.seed)
    idx = os.path.join(ctx.work, "ann_index")
    checked = [n for n in workloads.QUERY_MIX if n != "ann_index_build"]
    refs = check.duckdb_results(sf_dir, checked)
    got, diff = {}, []
    for name in workloads.QUERY_MIX:
        pdf = workloads._run_query(ctx.spark, name, sf_dir, idx)
        if pdf is not None:
            got[name] = list(check.digest(pdf))
            if not check.agrees(pdf, refs[name]):
                diff.append(name)
    if diff:
        print(f"seed {ctx.seed}: Spark != DuckDB for {diff}", file=sys.stderr)
        return None
    return got


if __name__ == "__main__":
    sys.exit(main(sys.argv[1], int(sys.argv[2]), int(sys.argv[3])))
