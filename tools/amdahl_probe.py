"""Budgeted scale-mode Amdahl probe (VERDICT r4 item 1).

The r4 measurement: the north-rule scale shape (per-host politeness
budget 50 + bloom + compact-every-3) scaled 2→8 cores at 0.47 vs the
parity crawl's 0.73 same-sitting. The repo's explanation is Amdahl: a
core-count-independent per-round constant (state reads/writes, bloom
delta, commit bookkeeping) doubles its wall share when the same work is
spread over 6 small rounds. This probe demonstrates (or falsifies) that
claim empirically by running the SAME world at two parallelism levels ×
two budgets — budget 500 gives ~10× larger rounds, so if the fixed-cost
story is right:

- the per-round wall fits wall_r ≈ a_c + b_c·fetched_r with the
  intercept a_c roughly core-count-independent (the fixed share) while
  the slope ratio b_2/b_8 tracks the attainable speedup, and
- the 2→8 efficiency at budget 500 closes toward the parity crawl's.

Cells are run INTERLEAVED (pass 1: all cells, pass 2: all cells, min
per cell) because this host's high-parallelism cells swing 25-60%
across sittings (BENCH/BASELINE.md §6); each cell is its own JVM.

Usage:
  python tools/amdahl_probe.py                  # orchestrate, print JSON
  python tools/amdahl_probe.py --cell C BUDGET  # one cell (internal)

Env: WCF_AMDAHL_HOSTS (default 2000), WCF_AMDAHL_ROUNDS (default 6),
WCF_AMDAHL_PASSES (default 2).
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import tempfile
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def bench_world(n_hosts: int):
    from webcrawlerfull_spark.synthgen import World

    # identical to bench.py's flagship world (seed 7) at BENCH_HOSTS
    return World(
        seed=7, n_hosts=n_hosts, base_pages=20000, cat_min=8, cat_span=4,
        per_page_min=30, per_page_span=20, max_pag=6, fail_rate=0.01,
    )


def run_cell(cpus: int, budget: int) -> None:
    from pyspark.sql import functions as F

    from webcrawlerfull_spark.config import CrawlConfig
    from webcrawlerfull_spark.session import get_spark
    from webcrawlerfull_spark.sources.catalog import Catalog
    from webcrawlerfull_spark.streaming.driver import crawl
    from webcrawlerfull_spark.synthgen import World

    n_hosts = int(os.environ.get("WCF_AMDAHL_HOSTS", "2000"))
    max_rounds = int(os.environ.get("WCF_AMDAHL_ROUNDS", "6"))
    spark = get_spark(
        app_name=f"amdahl-{cpus}-{budget}", master=f"local[{cpus}]",
        shuffle_partitions=cpus,
    )
    spark.sparkContext.setLogLevel("ERROR")
    # warm-up (untimed): JVM codegen + Python worker spawn + first commit
    warm = World(seed=3, n_hosts=3, base_pages=30)
    with tempfile.TemporaryDirectory() as tmp:
        crawl(
            spark, warm.seeds(), CrawlConfig(max_depth=2, shuffle_partitions=cpus),
            warm, Catalog(spark, os.path.join(tmp, "w")),
        )
    world = bench_world(n_hosts)
    cfg = CrawlConfig(
        max_depth=3, politeness_budget=budget, use_bloom=True,
        compact_every=3, shuffle_partitions=cpus,
    )
    with tempfile.TemporaryDirectory() as tmp:
        cat = Catalog(spark, os.path.join(tmp, "cat"))
        t0 = time.monotonic()
        res = crawl(spark, world.seeds(), cfg, world, cat, max_rounds=max_rounds)
        wall = time.monotonic() - t0
        lin = res.lineage.select("round", "fetched", "wall_ms").collect()
    print(
        json.dumps(
            {
                "cpus": cpus,
                "budget": budget,
                "wall": round(wall, 2),
                "rounds": res.rounds_run,
                "fetched": sum(r["fetched"] for r in lin),
                "round_walls": {str(r["round"]): r["wall_ms"] / 1000.0 for r in lin},
                "round_fetched": {str(r["round"]): r["fetched"] for r in lin},
            }
        )
    )
    spark.stop()


def fit_fixed(points: list[tuple[int, float]]) -> tuple[float, float]:
    """Least-squares wall = a + b*fetched over per-round points."""
    n = len(points)
    sx = sum(p[0] for p in points)
    sy = sum(p[1] for p in points)
    sxx = sum(p[0] * p[0] for p in points)
    sxy = sum(p[0] * p[1] for p in points)
    denom = n * sxx - sx * sx
    if denom == 0:
        return 0.0, 0.0
    b = (n * sxy - sx * sy) / denom
    a = (sy - b * sx) / n
    return a, b


def main() -> None:
    if len(sys.argv) > 1 and sys.argv[1] == "--cell":
        run_cell(int(sys.argv[2]), int(sys.argv[3]))
        return

    passes = int(os.environ.get("WCF_AMDAHL_PASSES", "2"))
    cells = [(2, 50), (8, 50), (2, 500), (8, 500)]
    runs: dict[tuple[int, int], list[dict]] = {c: [] for c in cells}
    for p in range(passes):
        for cpus, budget in cells:
            env = dict(os.environ)
            env.setdefault("SPARK_DRIVER_MEMORY", "24g")
            out = subprocess.run(
                [sys.executable, os.path.abspath(__file__), "--cell", str(cpus), str(budget)],
                env=env, capture_output=True, text=True, timeout=3600,
            )
            lines = [l for l in out.stdout.strip().splitlines() if l.startswith("{")]
            if not lines:
                sys.stderr.write(out.stderr[-4000:])
                raise RuntimeError(f"cell ({cpus},{budget}) pass {p} failed")
            rec = json.loads(lines[-1])
            runs[(cpus, budget)].append(rec)
            print(
                f"[pass {p}] cpus={cpus} budget={budget}: wall={rec['wall']}s "
                f"rounds={rec['rounds']} fetched={rec['fetched']}",
                file=sys.stderr,
            )

    best = {c: min(rs, key=lambda r: r["wall"]) for c, rs in runs.items()}
    result: dict = {"cells": {f"c{c}_b{b}": best[(c, b)] for c, b in cells}}
    for budget in (50, 500):
        t2, t8 = best[(2, budget)]["wall"], best[(8, budget)]["wall"]
        result[f"eff_2to8_b{budget}"] = round((t2 / t8) / 4, 3) if t8 else 0.0
    # fixed-cost fit per core count: pool per-round points across budgets
    for cpus in (2, 8):
        pts = []
        for budget in (50, 500):
            r = best[(cpus, budget)]
            for rnd, w in r["round_walls"].items():
                pts.append((r["round_fetched"][rnd], w))
        a, b = fit_fixed(pts)
        result[f"fit_c{cpus}"] = {
            "fixed_sec_per_round": round(a, 2),
            "sec_per_1k_urls": round(b * 1000, 4),
            "points": len(pts),
        }
    print(json.dumps(result))


if __name__ == "__main__":
    main()
