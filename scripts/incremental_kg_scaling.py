"""Two-size scaling evidence for the INCREMENTAL KG path (r6): the
same snapshot-1 ingest (dedup gate -> canonical merge -> pipeline ->
triple append) on the same input at local[N] and local[4N], fresh JVM
per leg, BLAS pinned — the north-rule N->4N criterion applied to
run_incremental_kg the way BENCH/BASELINE.md applies it to the tagger
and scripts/corpus_scaling.py to corpus prep.

Per leg: seed the store with snapshot 0 (untimed), then time ONLY the
snapshot-1 ingest: 50% re-crawled pages (band-index drops) + 50% new
pages (full pipeline), with same-as evidence merging two issued ids.
Pure-python load probes bracket each timed ingest.

Each leg also records which path the dedup gate and the canonical
merge took: both solve inputs of at most ``io.DRIVER_ROWS_LIMIT`` rows
on the driver (the snapshot's band rows; the prior mapping and the
same-as edges), so the recorded ``probe_rows`` and ``paths`` say which
shape a wall measures.  At the 150k-page default the gate runs
distributed (4 band rows a page) and the merge on the driver.

Writes BENCH/incremental_kg_scaling.json.
Usage: python scripts/incremental_kg_scaling.py [n_pages] [N] [rounds]
"""

from __future__ import annotations

import json
import os
import statistics
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

JOB = r"""
import json, os, sys, tempfile, time
sys.path.insert(0, {repo!r})
import datetime as dt
from neuroner_spark.session import get_spark
from pyspark.sql import functions as F

def probe():
    t0 = time.perf_counter(); x = 0
    for i in range(2_000_000): x += i * i % 7
    return round(time.perf_counter() - t0, 3)

cpus, n_pages = sys.argv[1], int(sys.argv[2])
spark = get_spark("inc_kg_scale", cores=cpus, shuffle_partitions=max(int(cpus), 2),
                  extra_conf={{"spark.ui.showConsoleProgress": "false"}})
from neuroner_spark.plans.catalog_kg import _aliases
from neuroner_spark.plans.kg_pipeline import run_incremental_kg

docs = spark.read.parquet(os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
                          + "/documents.parquet").select("doc_id", "text")
n_src = docs.count()
reps = max(1, -(-n_pages // n_src))  # replicate up (sf0.1 is 5k docs)
# deterministic selection (no limit(): unordered limit re-samples per
# re-execution, so the re-crawl half could drift from snapshot 0)
base = (
    docs.crossJoin(spark.range(reps).withColumnRenamed("id", "rep"))
    .withColumn("doc_id", F.col("doc_id") + F.col("rep") * F.lit(1_000_000_000))
    .withColumn("text", F.concat("text", F.lit(" zrep"), F.col("rep").cast("string")))
    .drop("rep")
)
n_pages = n_src * reps  # actual size; recorded below

def pages(df, tag):
    return df.select(
        F.concat(F.lit("https://h"), (F.col("doc_id") % 50).cast("string"),
                 F.lit(".example/"), F.lit(tag), F.col("doc_id").cast("string")).alias("url"),
        F.lit(dt.datetime(2024, 1, 1)).cast("timestamp").alias("warc_ts"),
        F.col("text"), F.lit("en").alias("lang"))

# snapshot 0: the base corpus, perturbed per-doc so near-dedup keeps it
p0 = pages(base.withColumn("text", F.concat("text", F.lit(" zsnap0x"), F.col("doc_id").cast("string"))), "a")
# snapshot 1: half re-crawls of snapshot 0 (same text, new urls) +
# half genuinely new pages (reversed word order)
half = base.filter(F.col("doc_id") % 2 == 0)  # deterministic half
recrawl = pages(half.withColumn("text", F.concat("text", F.lit(" zsnap0x"), F.col("doc_id").cast("string"))), "mirror")
fresh = pages(half.withColumn("text",
        F.concat(F.array_join(F.reverse(F.split(F.col("text"), " ")), " "),
                 F.lit(" zfresh"), F.col("doc_id").cast("string"))), "b")
p1 = recrawl.unionByName(fresh)

aliases = _aliases(spark)
store = tempfile.mkdtemp(prefix="inc_kg_scale_")
run_incremental_kg(spark, p0, aliases, store, 0)   # seed, untimed
pr0 = probe()
t0 = time.time()
r = run_incremental_kg(
    spark, p1, aliases, store, 1,
    new_sameas_edges=spark.createDataFrame([(5, 6)], "src long, dst long"))
n_trip = r["triples"].count()
dec = {{x["status"]: 1 for x in r["decisions"].select("status").distinct().collect()}}
wall = round(time.time() - t0, 3)
stage_walls = {{m["stage"]: m["wall_s"] for m in r["lineage"]}}
probe_sec = [pr0, probe()]

# untimed: the input sizes each operator's driver/distributed choice saw
from neuroner_spark.io import DRIVER_ROWS_LIMIT
from neuroner_spark.operators.dedup import minhash_banded
from neuroner_spark.plans.kg_pipeline import sameas_edges_from_aliases
rows = {{
    "banded": minhash_banded(p1.select(F.xxhash64("url").alias("doc_id"), "text"),
                             fast_hash=True).count(),
    "prior": spark.read.parquet(store + "/canonical/mapping/snapshot=0").count(),
    # alias-share edges + one identity edge per entity + the caller's edge
    "edges": sameas_edges_from_aliases(aliases).count()
             + aliases.select("entity_id").distinct().count() + 1,
}}
path = lambda *n: "driver" if max(n) <= DRIVER_ROWS_LIMIT else "distributed"
print(json.dumps({{"wall_s": wall, "n_triples": n_trip, "n_pages_actual": n_pages,
                   "statuses": sorted(dec), "probe_sec": probe_sec,
                   "step_walls": r["step_walls"],
                   "pipeline_stage_walls": stage_walls,
                   "probe_rows": rows,
                   "paths": {{"dedup_gate": path(rows["banded"]),
                              "canonical_merge": path(rows["prior"], rows["edges"])}}}}))
"""


def run_leg(cpus: int, n_pages: int) -> dict:
    code = JOB.format(repo=REPO)
    env = dict(os.environ)
    for v in ("OPENBLAS_NUM_THREADS", "OMP_NUM_THREADS", "MKL_NUM_THREADS"):
        env[v] = "1"
    out = subprocess.run(
        [sys.executable, "-c", code, str(cpus), str(n_pages)],
        capture_output=True, text=True, env=env, cwd=REPO, check=True,
    )
    return json.loads(out.stdout.strip().splitlines()[-1])


def main() -> None:
    n_pages = int(sys.argv[1]) if len(sys.argv) > 1 else 150_000
    n = int(sys.argv[2]) if len(sys.argv) > 2 else 2
    rounds = int(sys.argv[3]) if len(sys.argv) > 3 else 2
    legs = {n: [], 4 * n: []}
    for r in range(rounds):
        for cpus in (n, 4 * n):  # interleaved across rounds
            res = run_leg(cpus, n_pages)
            legs[cpus].append(res)
            print(f"round {r} local[{cpus}]: {res}")
            sys.stdout.flush()
    med = {c: statistics.median(x["wall_s"] for x in v) for c, v in legs.items()}
    eff = round((med[n] / med[4 * n]) / 4, 3)
    out = {
        "job": "run_incremental_kg snapshot-1 ingest (50% re-crawl, 50% new)",
        "n_pages": n_pages,
        "legs": {f"local[{c}]": v for c, v in legs.items()},
        # a function of the input size only, so the same in every run
        "paths": {f"local[{c}]": v[0]["paths"] for c, v in legs.items()},
        "median_wall_s": {f"local[{c}]": m for c, m in med.items()},
        "pages_per_sec": {f"local[{c}]": round(n_pages / m, 1) for c, m in med.items()},
        "efficiency_N_to_4N": eff,
    }
    path = os.path.join(REPO, "BENCH", "incremental_kg_scaling.json")
    with open(path, "w") as f:
        json.dump(out, f, indent=1)
    print(json.dumps({k: v for k, v in out.items() if k != "legs"}))
    print(f"artifact: {path}")


if __name__ == "__main__":
    main()
