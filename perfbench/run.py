"""KG-construction benchmark.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1> [--smoke]

Run from the repository root.  One closed-loop client: this process
issues one engine call at a time on ``local[<cores>]`` and starts no
threads of its own.  After set-up and a warm-up it runs timed units
until ``--seconds`` have passed (at least one), checks every unit's
output against a reference (the warm-up's, or else the first unit's),
and prints one JSON line last on stdout:
end-to-end metrics with ``--trace 0``; with ``--trace 1`` a separate
traced unit gives the per-layer metrics.  See README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
DEFAULT_SEED = 42
PAGES = {"full": 500, "smoke": 50}  # sf0.01 and sf0.001 of the 5,000-page sf0.1 corpus
SETUP_REPEATS = 3

# per-layer spans reported as metrics, and the counters printed for each
SPAN_NAMES = (
    "plans.kg_pipeline.normalize",
    "functions.tokenize",
    "operators.gazetteer",
    "model.tagger",
    "operators.spans",
    "operators.linking",
    "operators.components",
    "plans.kg_pipeline.triples",
    "plans.kg_pipeline.entities",
    "plans.corpus_pipeline.dedup_gate",
    "io",
    "plans.kg_pipeline.read",
    "operators.graph_rank",
)
SPAN_METRICS = {
    "busy_s": "s",
    "rows_out": "count",
    "stages": "count",
    "tasks": "count",
    "executor_cpu_s": "s",
    "wait_s": "s",
    "shuffle_write_bytes": "bytes",
}
TOTAL_METRICS = {
    "failed_tasks": "count",
    "spill_bytes": "bytes",
    "shuffle_read_bytes": "bytes",
    "executor_run_s": "s",
}
LAYER_METRICS = {
    "model.tagger.arrow_boundary_s": "s",
    "model.bilstm_crf.forward_tokens_per_s": "1/s",
    "model.bilstm_crf.viterbi_tokens_per_s": "1/s",
    "plans.kg_pipeline.triples.exchanges_run": "count",
    "plans.kg_pipeline.triples.exchanges_reused": "count",
    "operators.components.jobs": "count",
    "plans.corpus_pipeline.dedup_gate.pages_dropped": "count",
    "plans.corpus_pipeline.dedup_gate.store_bytes_written": "bytes",
    "io.bytes_written": "bytes",
    "io.bytes_per_page": "bytes",
    "io.persisted_rdds_leaked": "count",
    "operators.graph_rank.round_wall_s_median": "s",
    "operators.graph_rank.round_wall_s_max": "s",
    "operators.graph_rank.jobs_per_round": "count",
    "trace.traced_wall_s": "s",
    "trace.untraced_wall_s": "s",
    "trace.overhead_s": "s",
    "trace.span_coverage": "ratio",
    "setup.session_s": "s",
    "setup.warm_up_s": "s",
    "host.probe_s": "s",
    "host.load_factor": "ratio",
    "host.unit_cpu_s": "s",
    "failed_ratio": "ratio",
}
E2E_METRICS = {
    "setup_s": "s",
    "kg_wall_s": "s",
    "pages_per_s": "1/s",
    "snapshot_visible_s": "s",
    "peak_rss_mb": "MB",
}


T_START = time.perf_counter()


def log(msg: str) -> None:
    print(f"[perfbench {time.perf_counter() - T_START:6.1f}s] {msg}", file=sys.stderr, flush=True)


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, default=DEFAULT_SEED)
    p.add_argument("--seconds", type=float, default=10.0)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--smoke", action="store_true", help="sf0.001 inputs (50 pages)")
    return p.parse_args(argv)


def start_spark(work: str):
    """Spark on local[<cores>], with its Python workers able to import the
    engine and its scratch space inside ``work``."""
    cores = len(os.sched_getaffinity(0))
    os.environ["PYTHONPATH"] = os.pathsep.join(filter(None, [ROOT, os.environ.get("PYTHONPATH")]))
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = work
    # a 2g heap, committed and touched at start, is ample for these inputs
    # and keeps the JVM's resident set from wandering with GC timing, so
    # peak_rss_mb moves with off-heap and Python memory only
    os.environ.setdefault("SPARK_DRIVER_MEM", "2g")
    from neuroner_spark.session import get_spark

    return get_spark(
        "perfbench",
        cores=cores,
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={work} -XX:-UsePerfData "
            f"-Xms{os.environ['SPARK_DRIVER_MEM']} -XX:+AlwaysPreTouch",
        },
    )


def stop_spark(spark) -> None:
    """Stop Spark and wait for the JVM and every process below it."""
    from measure import _descendants

    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    below = [pid for pid in _descendants() if pid != os.getpid()]
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)
    deadline = time.time() + 30
    for pid in below:
        while os.path.exists(f"/proc/{pid}") and time.time() < deadline:
            time.sleep(0.05)
        if os.path.exists(f"/proc/{pid}"):
            os.kill(pid, 9)


def run(args, spark, session_s: float, work: str) -> dict:
    import workloads
    from measure import PROBE_IDLE_FLOOR_S, Spans, cpu_s, peak_rss_mb, probe_s

    wl = workloads.WORKLOADS[args.workload](spark, PAGES["smoke" if args.smoke else "full"])
    default_case = args.seed == DEFAULT_SEED and not args.smoke

    log(f"session {session_s:.1f}s")
    setups = []
    for _ in range(SETUP_REPEATS):
        t0 = time.perf_counter()
        inp = wl.setup(args.seed)
        setups.append(time.perf_counter() - t0)
    t0 = time.perf_counter()
    # the reference every unit, and the traced unit, must reproduce
    # exactly: the warm-up's outputs, or else the first correct unit's
    ref = wl.warm_up(inp, work)
    warm_up_s = time.perf_counter() - t0
    log(f"warm-up {warm_up_s:.1f}s")
    samples, probes, attempted, failed = [], [probe_s()], 0, 0
    start = time.perf_counter()
    while attempted == 0 or time.perf_counter() - start < args.seconds:
        attempted += 1
        cpu0 = cpu_s()
        try:
            walls, out = wl.unit(inp, work, attempted)
            walls["cpu_s"] = cpu_s() - cpu0
        except Exception:  # a failing unit is counted, not fatal
            log(traceback.format_exc())
            failed += 1
            continue
        finally:
            probes.append(probe_s())
        unit_errs = wl.check(out, ref, default_case)
        if unit_errs:
            log(f"unit {attempted} output check failed: {unit_errs}")
            failed += 1
            continue
        ref = ref or out
        samples.append(walls)
        log(f"unit {attempted}: {json.dumps(walls)} probes={probes[-2]:.3f}/{probes[-1]:.3f}s output={out}")
    if not samples:
        raise RuntimeError("no timed unit produced a correct output")

    def med(key):
        return statistics.median(s[key] for s in samples)

    result = {"correct": failed == 0, "attempted": attempted, "failed": failed}
    if not args.trace:
        metrics = {
            "setup_s": statistics.median(setups),
            "kg_wall_s": med("kg_wall_s"),
            "pages_per_s": wl.n_pages / med("kg_wall_s"),
            "snapshot_visible_s": med("snapshot_visible_s"),
            "peak_rss_mb": peak_rss_mb(),
        }
        units = E2E_METRICS
    else:
        spans = Spans(spark)
        traced = wl.traced(spans, inp, work)
        result["attempted"] += 1
        trace_errs = wl.check(traced["outputs"], ref, default_case)
        if trace_errs:
            log(f"traced unit output check failed: {trace_errs}")
            result["failed"] += 1
            result["correct"] = False
        metrics = layer_metrics(spans, traced, samples, wl)
        metrics.update(
            {
                "trace.untraced_wall_s": med("snapshot_visible_s"),
                "trace.overhead_s": metrics["trace.traced_wall_s"] - med("snapshot_visible_s"),
                "setup.session_s": session_s,
                "setup.warm_up_s": warm_up_s,
                "host.probe_s": statistics.median(probes),
                "host.unit_cpu_s": med("cpu_s"),
                "host.load_factor": statistics.median(probes) / PROBE_IDLE_FLOOR_S,
                "failed_ratio": result["failed"] / result["attempted"],
            }
        )
        units = {f"{s}.{m}": u for s in SPAN_NAMES for m, u in SPAN_METRICS.items()}
        units.update({f"spark.{m}": u for m, u in TOTAL_METRICS.items()})
        units.update(LAYER_METRICS)
        for s in spans.spans:
            log("span " + json.dumps({k: v for k, v in s.items() if k not in ("start", "end")}))
    log(f"host probe: median {statistics.median(probes):.3f}s over {len(probes)} probes, idle floor {PROBE_IDLE_FLOOR_S}s")
    result["metrics"] = {k: {"value": float(metrics.get(k, 0.0)), "unit": u} for k, u in units.items()}
    return result


def layer_metrics(spans, traced: dict, samples: list, wl) -> dict:
    from measure import COUNTERS

    m: dict = {}
    by_name: dict = {}
    for s in spans.spans:
        agg = by_name.setdefault(s["name"], dict.fromkeys(("busy_s", "rows_out", "jobs") + COUNTERS, 0))
        for k in agg:
            agg[k] += s[k]
    for name, agg in by_name.items():
        for k in SPAN_METRICS:
            m[f"{name}.{k}"] = agg[k]
    for k in TOTAL_METRICS:
        m[f"spark.{k}"] = sum(agg[k] for agg in by_name.values())
    first = min(s["start"] for s in spans.spans)
    last = max(s["end"] for s in spans.spans)
    m["trace.traced_wall_s"] = last - first
    m["trace.span_coverage"] = sum(s["busy_s"] for s in spans.spans) / (last - first)
    triples = next(s for s in spans.spans if s["name"] == "plans.kg_pipeline.triples")
    m["plans.kg_pipeline.triples.exchanges_run"], m["plans.kg_pipeline.triples.exchanges_reused"] = spans.exchanges(triples["group"])
    if "operators.components" in by_name:
        m["operators.components.jobs"] = by_name["operators.components"]["jobs"]
    extra = traced["extra"]
    for k in ("arrow_boundary_s",):
        if k in extra:
            m[f"model.tagger.{k}"] = extra[k]
    for k in ("forward_tokens_per_s", "viterbi_tokens_per_s"):
        if k in extra:
            m[f"model.bilstm_crf.{k}"] = extra[k]
    if "dedup" in extra:
        for k, v in extra["dedup"].items():
            m[f"plans.corpus_pipeline.dedup_gate.{k}"] = v
    m["io.bytes_written"] = extra["bytes_written"]
    m["io.bytes_per_page"] = extra["bytes_written"] / wl.n_pages
    m["io.persisted_rdds_leaked"] = statistics.median(s["persisted_rdds_leaked"] for s in samples)
    if "rounds" in extra:
        rounds = extra["rounds"]
        rank = by_name["operators.graph_rank"]
        m["operators.graph_rank.round_wall_s_median"] = statistics.median(rounds)
        m["operators.graph_rank.round_wall_s_max"] = max(rounds)
        m["operators.graph_rank.jobs_per_round"] = rank["jobs"] / len(rounds)
    return m


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "neuroner_spark")):
        log(f"the engine package neuroner_spark is not under {ROOT}; run from a full checkout")
        return 2
    sys.path.insert(0, ROOT)
    import workloads

    if args.workload not in workloads.WORKLOADS:
        log(f"unknown workload {args.workload!r}; choose from {sorted(workloads.WORKLOADS)}")
        return 2
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    os.makedirs(work)
    spark = None
    try:
        t0 = time.perf_counter()
        spark = start_spark(work)
        session_s = time.perf_counter() - t0
        result = run(args, spark, session_s, work)
    finally:
        if spark is not None:
            log("stopping spark")
            stop_spark(spark)
            log("stopped")
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    # one BLAS thread in the driver too, like the executors' pinning, so
    # the driver-side kernel timings compare with per-task executor time
    for var in ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS", "MKL_NUM_THREADS"):
        os.environ[var] = "1"
    sys.path.insert(0, HERE)
    sys.exit(main())
