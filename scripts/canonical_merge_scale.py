"""Measured benefit of merge_canonical_snapshots' rewrite-first shape
(r6): fold a small batch of new same-as evidence into a LARGE issued
mapping, incremental vs the naive full re-derivation.

Setup: N issued entities (identity mapping plus pre-merged pairs so
the store has non-trivial components), then ONE snapshot of K new
edges (a mix of merges between issued components and brand-new ids).

Legs (same JVM, interleaved, pure-python load probes):
  incremental  merge_canonical_snapshots(prior, new_edges) — CC runs
               over the K rewritten edges only (driver fast path);
               store-sized work = 1 relabel join + 1 anti-join
  full_recc    connected_components(prior-as-edges UNION new edges)
               + min-label relabel — the from-scratch baseline that
               rescans and re-CCs the whole store every snapshot

Checked: the two legs produce the SAME PARTITION of entities into
components (labels differ by design — incremental keeps issued ids).

Writes BENCH/canonical_merge_scale.json.
Usage: python scripts/canonical_merge_scale.py [n_entities] [k_edges] [rounds]
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


def main() -> None:
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 2_000_000
    k = int(sys.argv[2]) if len(sys.argv) > 2 else 20_000
    rounds = int(sys.argv[3]) if len(sys.argv) > 3 else 3

    from pyspark.sql import functions as F

    from neuroner_spark.operators.components import (
        connected_components,
        merge_canonical_snapshots,
    )
    from neuroner_spark.session import get_spark

    spark = get_spark(
        "canon_merge_scale", cores="32", shuffle_partitions=32,
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )
    # issued store: every 10th entity pre-merged into its neighbor's
    # component (id -> id-1), the rest identity
    prior = (
        spark.range(n)
        .select(
            F.col("id").alias("entity_id"),
            F.when((F.col("id") % 10 == 9), F.col("id") - 1)
            .otherwise(F.col("id"))
            .alias("canonical_id"),
        )
        .repartition(32)
        .localCheckpoint()
    )
    # new evidence: k/2 merges between issued components (stride apart)
    # + k/2 brand-new ids attaching to issued ones
    merges = spark.range(k // 2).select(
        (F.col("id") * 20).alias("src"), (F.col("id") * 20 + 10).alias("dst")
    )
    newbies = spark.range(k // 2).select(
        (F.col("id") + n).alias("src"), (F.col("id") * 7 % n).alias("dst")
    )
    new_edges = merges.unionByName(newbies).localCheckpoint()

    def leg_incremental():
        out = merge_canonical_snapshots(prior, new_edges)
        return out["mapping"], out["mapping"].count()

    def leg_full_recc():
        alle = prior.select(
            F.col("entity_id").alias("src"), F.col("canonical_id").alias("dst")
        ).unionByName(new_edges)
        # n + k edges: above io.DRIVER_ROWS_LIMIT, so the star loop runs
        cc = connected_components(alle)
        m = cc.select(F.col("node").alias("entity_id"), F.col("component").alias("canonical_id"))
        return m, m.count()

    results = {"incremental": [], "full_recc": []}
    maps = {}
    for r in range(rounds):
        for name, fn in (("incremental", leg_incremental), ("full_recc", leg_full_recc)):
            p0 = probe()
            t0 = time.time()
            m, cnt = fn()
            wall = round(time.time() - t0, 3)
            results[name].append({"wall_s": wall, "rows": cnt, "probe_sec": [p0, probe()]})
            maps[name] = m
            print(f"round {r} {name}: {wall}s rows={cnt}")
            sys.stdout.flush()

    # partition equivalence: group entities by each leg's label; the
    # (incremental_label, full_label) relation must be a bijection
    j = maps["incremental"].withColumnRenamed("canonical_id", "a").join(
        maps["full_recc"].withColumnRenamed("canonical_id", "b"), "entity_id"
    )
    pairs = j.select("a", "b").distinct()
    bijection = (
        pairs.count()
        == pairs.select("a").distinct().count()
        == pairs.select("b").distinct().count()
    )
    import statistics

    med = {k2: statistics.median(x["wall_s"] for x in v) for k2, v in results.items()}
    out = {
        "n_entities": n,
        "k_new_edges": k,
        "rounds": rounds,
        "partition_equivalent": bool(bijection),
        "median_wall_s": med,
        "speedup_full_over_incremental": round(med["full_recc"] / med["incremental"], 2),
        "legs": results,
        "note": "incremental CC input = k rewritten edges (driver fast path); "
        "full_recc re-CCs n+k edges with the distributed star loop",
    }
    path = os.path.join(REPO, "BENCH", "canonical_merge_scale.json")
    with open(path, "w") as f:
        json.dump(out, f, indent=1)
    print(json.dumps({kk: vv for kk, vv in out.items() if kk != "legs"}))
    print(f"artifact: {path}")


if __name__ == "__main__":
    main()
