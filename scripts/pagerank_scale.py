"""PageRank scale probe (r6): wall per iteration on a synthetic
power-law-ish graph, recorded so the iterative-join shape has a
measured cost, not an asserted one.

Graph: N nodes, ~E edges with Zipf-skewed destinations (hub-heavy,
the real shape of entity co-occurrence graphs) — the skew stresses
the groupBy(dst) aggregation exactly where a naive plan would hotspot.

Each record carries the ``mode`` pagerank ran in: graphs of at most
``io.DRIVER_ROWS_LIMIT`` edges are ranked on the driver, so a run with
small CLI sizes does not measure the distributed loop.  The default
sizes (5M edges) run the loop.

Writes BENCH/pagerank_scale.json.
Usage: python scripts/pagerank_scale.py [n_nodes] [n_edges] [iters]
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def probe() -> float:
    t0 = time.perf_counter()
    x = 0
    for i in range(2_000_000):
        x += i * i % 7
    return round(time.perf_counter() - t0, 3)


def rank_mode(log: list) -> str:
    """'driver' when pagerank's iteration_log is tagged so, else 'distributed'."""
    return "driver" if log and log[0].get("mode") == "driver" else "distributed"


def main() -> None:
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 1_000_000
    e = int(sys.argv[2]) if len(sys.argv) > 2 else 5_000_000
    iters = int(sys.argv[3]) if len(sys.argv) > 3 else 5

    from pyspark.sql import functions as F

    from neuroner_spark.operators.graph_rank import pagerank
    from neuroner_spark.session import get_spark

    spark = get_spark(
        "pagerank_scale", cores="32", shuffle_partitions=32,
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )
    # Zipf-skewed dst via xxhash mixing: dst = n / (1 + (h % n)) shape
    edges = spark.range(e).select(
        (F.xxhash64("id") % n).alias("src"),
        (F.col("id") % F.greatest((F.xxhash64("id", F.lit(1)) % 1000) % 97 + 1, F.lit(1))).alias("dst"),
    ).select(F.abs("src").alias("src"), F.abs("dst").alias("dst"))
    log: list = []
    p0 = probe()
    t0 = time.time()
    ranks = pagerank(edges, max_iter=iters, tol=0.0, iteration_log=log)
    top = ranks.orderBy(F.desc("rank")).limit(5).collect()
    wall = round(time.time() - t0, 3)
    out = {
        "n_nodes_requested": n,
        "n_edges_requested": e,
        "mode": rank_mode(log),
        "iterations": log,
        "total_wall_s": wall,
        "sec_per_iteration_median": sorted(x["wall_sec"] for x in log)[len(log) // 2],
        "probe_sec": [p0, probe()],
        "top5_ranks": [[int(r["node"]), round(float(r["rank"]), 8)] for r in top],
        "note": "hub-skewed dst distribution; per-iteration cost is one "
        "equi-join + one keyed agg — flat across iterations is the "
        "expected signature (no lineage growth thanks to the per-round "
        "localCheckpoint)",
    }
    path = os.path.join(REPO, "BENCH", "pagerank_scale.json")
    with open(path, "w") as f:
        json.dump(out, f, indent=1)
    print(json.dumps({k: v for k, v in out.items() if k != "iterations"}))
    print("iters:", [x["wall_sec"] for x in log])





def two_size(n: int, e: int, iters: int, small: int = 2, repeats: int = 3) -> None:
    """N->4N legs for the ranking loop: same graph, fresh JVM per leg
    (subprocess), medians + probes; appends to the artifact.

    shuffle_partitions is max(cpus, 8) on BOTH legs (the
    corpus_scaling.py convention) so the two legs shuffle the same
    partition count and differ only in parallelism — otherwise the
    small leg's coarser partitions confound the comparison."""
    import statistics
    import subprocess

    job = f"""
import json, sys, time
sys.path.insert(0, {REPO!r})
from neuroner_spark.session import get_spark
from pyspark.sql import functions as F
from neuroner_spark.operators.graph_rank import pagerank
def probe():
    t0 = time.perf_counter(); x = 0
    for i in range(2_000_000): x += i * i % 7
    return round(time.perf_counter() - t0, 3)
cpus = sys.argv[1]
spark = get_spark("pr_scale", cores=cpus, shuffle_partitions=max(int(cpus), 8),
                  extra_conf={{"spark.ui.showConsoleProgress": "false"}})
edges = spark.range({e}).select(
    (F.xxhash64("id") % {n}).alias("src"),
    (F.col("id") % F.greatest((F.xxhash64("id", F.lit(1)) % 1000) % 97 + 1, F.lit(1))).alias("dst"),
).select(F.abs("src").alias("src"), F.abs("dst").alias("dst")).localCheckpoint()
p0 = probe(); t0 = time.time()
it_log = []
pagerank(edges, max_iter={iters}, tol=0.0, iteration_log=it_log).count()
wall = round(time.time()-t0, 3)
iters_s = [x["wall_sec"] for x in it_log]
# setup = the one-time edge distinct + node derivation + counts before
# the loop (wall minus the logged rounds and the final count's share)
mode = "driver" if it_log and it_log[0].get("mode") == "driver" else "distributed"
print(json.dumps({{"wall_s": wall, "mode": mode, "probe_sec": [p0, probe()],
                   "iteration_walls_s": iters_s,
                   "setup_and_final_s": round(wall - sum(iters_s), 3)}}))
"""
    env = dict(os.environ)
    for v in ("OPENBLAS_NUM_THREADS", "OMP_NUM_THREADS", "MKL_NUM_THREADS"):
        env[v] = "1"
    legs: dict = {small: [], 4 * small: []}
    for _ in range(repeats):
        for cpus in (small, 4 * small):
            out = subprocess.run(
                [sys.executable, "-c", job, str(cpus)],
                capture_output=True, text=True, env=env, cwd=REPO, check=True,
            )
            res = json.loads(out.stdout.strip().splitlines()[-1])
            legs[cpus].append(res)
            print(f"local[{cpus}]: {res}")
            sys.stdout.flush()
    med = {c: statistics.median(x["wall_s"] for x in v) for c, v in legs.items()}
    eff = round((med[small] / med[4 * small]) / 4, 3)
    path = os.path.join(REPO, "BENCH", "pagerank_scale.json")
    with open(path) as f:
        d = json.load(f)
    d["two_size"] = {
        "n_nodes": n, "n_edges": e, "iterations": iters,
        "legs": {f"local[{c}]": v for c, v in legs.items()},
        "median_wall_s": {f"local[{c}]": m for c, m in med.items()},
        "efficiency_N_to_4N": eff,
    }
    with open(path, "w") as f:
        json.dump(d, f, indent=1)
    print(json.dumps(d["two_size"]["median_wall_s"]), "efficiency:", eff)


def convergence(n: int, e: int, max_iter: int = 25) -> None:
    """Convergence-vs-tolerance table (r6 candidate): ONE long run with
    delta tracking; the iterations-to-tol table is read off the logged
    L1-delta curve (delta is monotone-decreasing on these graphs), so
    each tolerance costs nothing extra.  Appends to the artifact."""
    from pyspark.sql import functions as F

    from neuroner_spark.operators.graph_rank import pagerank
    from neuroner_spark.session import get_spark

    spark = get_spark(
        "pagerank_conv", cores="32", shuffle_partitions=32,
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )
    edges = spark.range(e).select(
        (F.xxhash64("id") % n).alias("src"),
        (F.col("id") % F.greatest((F.xxhash64("id", F.lit(1)) % 1000) % 97 + 1, F.lit(1))).alias("dst"),
    ).select(F.abs("src").alias("src"), F.abs("dst").alias("dst")).localCheckpoint()
    log: list = []
    p0 = probe()
    t0 = time.time()
    # tol tiny-but-positive: logs the delta every round, never exits early
    pagerank(edges, max_iter=max_iter, tol=1e-15, iteration_log=log).count()
    wall = round(time.time() - t0, 3)
    tols = [1e-2, 1e-3, 1e-4, 1e-5, 1e-6]
    to_tol = {}
    for tol in tols:
        hit = next((x["iter"] + 1 for x in log if x["l1_delta"] < tol), None)
        to_tol[f"{tol:g}"] = hit  # None = not reached within max_iter
    path = os.path.join(REPO, "BENCH", "pagerank_scale.json")
    with open(path) as f:
        d = json.load(f)
    d["convergence"] = {
        "n_nodes": n, "n_edges": e, "max_iter": max_iter,
        "mode": rank_mode(log),
        "total_wall_s": wall, "probe_sec": [p0, probe()],
        "l1_delta_curve": [x["l1_delta"] for x in log],
        "sec_per_iteration": [x["wall_sec"] for x in log],
        "iterations_to_tol": to_tol,
        "note": "one tracked run; iterations_to_tol read off the monotone "
                "delta curve — the fixed-iteration production setting trades "
                "the per-round convergence action for a committed iteration "
                "budget chosen from this table",
    }
    with open(path, "w") as f:
        json.dump(d, f, indent=1)
    print(json.dumps(d["convergence"]["iterations_to_tol"]), "wall:", wall)


if __name__ == "__main__":
    if "--convergence" in sys.argv:
        args = [a for a in sys.argv[1:] if not a.startswith("--")]
        convergence(
            int(args[0]) if args else 5_000_000,
            int(args[1]) if len(args) > 1 else 50_000_000,
            int(args[2]) if len(args) > 2 else 25,
        )
    elif "--two-size" in sys.argv:
        args = [a for a in sys.argv[1:] if not a.startswith("--")]
        two_size(
            int(args[0]) if args else 1_000_000,
            int(args[1]) if len(args) > 1 else 10_000_000,
            int(args[2]) if len(args) > 2 else 5,
        )
    else:
        main()
