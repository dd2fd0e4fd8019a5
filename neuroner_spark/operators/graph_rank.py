"""Entity-importance ranking over the materialized KG: PageRank (Page
et al. 1999), the analytics consumer of the triple store's entity/edge
tables.  Two paths, selected by the input's row count, with one set of
semantics (same dangling-mass redistribution, same L1 early exit, same
``iteration_log``):

- at most ``io.DRIVER_ROWS_LIMIT`` raw edges (``io.collect_small``):
  one bounded Arrow probe, then numpy power iteration on the driver —
  a small graph's per-round Spark jobs are scheduler latency, not work
  (the ``connected_components`` / ``canonical_map`` rule);
- larger graphs: iterative DataFrame joins (the standard MapReduce
  formulation) with the same execution discipline as
  ``operators/components.py`` (each round pinned through ``io.pin``,
  lineage cut every few rounds, one driver action per round).

Scale shape of the distributed loop at 10^9-node graphs:
  - the edge table is the only corpus-sized frame; each iteration is
    ONE equi-join (ranks x out-degrees on src) + ONE groupBy(dst) sum
    — both shuffles keyed on node id, and the join side reuses the
    same partitioning every round (AQE + exchange reuse);
  - out-degrees are computed once, up front;
  - dangling mass (nodes with no out-edges) is one scalar per round,
    redistributed uniformly — without it rank leaks and the result
    diverges from the true eigenvector;
  - convergence check = L1 delta, in the same action.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from neuroner_spark.io import collect_small, local_df, pin, release


def pagerank(
    edges: DataFrame,
    damping: float = 0.85,
    max_iter: int = 20,
    tol: float = 1e-6,
    undirected: bool = False,
    iteration_log: list | None = None,
    checkpoint_interval: int = 5,
) -> DataFrame:
    """edges(src, dst) -> (node, rank), sum(rank) == 1.

    ``undirected``: symmetrize first (co-occurrence graphs are
    undirected; verb-predicate graphs are directed).
    ``iteration_log``: appends {'iter', 'l1_delta', 'wall_sec'} per
    round (the components.py observability contract); ``l1_delta`` is
    logged when ``tol > 0``.

    Path: edge inputs (non-null endpoints, before dedup) of at most
    ``io.DRIVER_ROWS_LIMIT`` rows are ranked on the driver
    (``_pagerank_driver``, log entries tagged ``mode='driver'``) and
    come back as a ``local_df``; larger ones run the loop below.

    Partition-reuse structure: the static frames are pinned with
    ``persist`` behind explicit hash repartitions (edges by src,
    nodes/ranks by node), so every round's joins co-partition with no
    edge exchange (measured at 4M nodes / 40M edges: a checkpointed
    edge frame re-shuffled all 40M edge rows per round).  Each round's
    rank frame is persisted too, and every ``checkpoint_interval``
    rounds pinned with ``local_checkpoint`` instead, bounding analysis
    cost at any iteration count; the previous round is released, so
    live storage is ~2 rank frames + the static graph.

    Dangling mass (nodes with no out-edges, a static flag on the node
    frame) is read off the round's one materializing action — the agg
    that fills the persisted frame, or the L1-delta agg when ``tol > 0``
    — and enters the next round as a literal, so a round's plan reads
    the previous rank frame once: the plan grows linearly between
    checkpoints, not exponentially."""
    import time

    spark = edges.sparkSession
    e = edges.select(F.col("src").cast("long"), F.col("dst").cast("long"))
    # nulls dropped Spark-side: a null-bearing long column reaches
    # pandas as float64, which rounds ids above 2^53
    small = collect_small(e.dropna())
    if small is not None:
        return _pagerank_driver(
            spark, small, damping, max_iter, tol, undirected, iteration_log
        )
    shuffle_p = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    if undirected:
        e = e.unionByName(e.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
    e = pin(
        e.filter(F.col("src") != F.col("dst")).distinct().repartition(shuffle_p, "src"),
        "persist",
    )
    # partitioned by src already (derived from e) — no exchange
    out_deg = pin(e.groupBy(F.col("src").alias("node")).agg(F.count("*").alias("deg")), "persist")
    nodes = (
        e.select(F.col("src").alias("node"))
        .unionByName(e.select(F.col("dst").alias("node")))
        .distinct()
        .repartition(shuffle_p, "node")
    )
    nodes = pin(
        nodes.join(out_deg, "node", "left").select("node", F.col("deg").isNull().alias("dangling")),
        "persist",
    )
    n = nodes.count()
    if n == 0:
        for df in (e, out_deg, nodes):
            release(df)
        return nodes.select("node", F.lit(0.0).alias("rank"))

    # dangling mass of a rank frame, aggregated over its join with the
    # node frame (co-partitioned on node — no exchange in persist rounds)
    mass = F.coalesce(F.sum(F.when(F.col("dangling"), F.col("rank"))), F.lit(0.0))
    ranks = pin(nodes.select("node", F.lit(1.0 / n).alias("rank")), "persist")
    dang = ranks.join(nodes, "node").agg(mass).collect()[0][0]
    for i in range(max_iter):
        t0 = time.time()
        contribs = (
            ranks.join(out_deg, "node")
            .select("node", (F.col("rank") / F.col("deg")).alias("share"))
            .join(e, F.col("node") == e.src)
            .groupBy(F.col("dst").alias("node"))
            .agg(F.sum("share").alias("inflow"))
        )
        new_ranks = nodes.join(contribs, "node", "left").select(
            "node",
            (
                F.lit((1.0 - damping) / n)
                + F.lit(damping * dang / n)
                + F.lit(damping) * F.coalesce("inflow", F.lit(0.0))
            ).alias("rank"),
        )
        truncate = checkpoint_interval > 0 and (i + 1) % checkpoint_interval == 0
        new_ranks = pin(new_ranks, "local_checkpoint" if truncate else "persist")
        # the round's ONE driver action fills the persisted frame and
        # reads the next round's dangling mass — plus the L1 delta for
        # the convergence check unless fixed-iteration (tol<=0)
        scored = new_ranks.join(nodes, "node")
        delta = None
        if tol > 0:
            delta, dang = (
                scored.join(ranks.select("node", F.col("rank").alias("r0")), "node")
                .agg(F.sum(F.abs(F.col("rank") - F.col("r0"))), mass)
                .collect()[0]
            )
        else:
            dang = scored.agg(mass).collect()[0][0]
        # the old round fed this round's join (and the delta) — dead now
        release(ranks)
        ranks = new_ranks
        if iteration_log is not None:
            entry = {"iter": i, "wall_sec": round(time.time() - t0, 3)}
            if delta is not None:
                entry["l1_delta"] = float(delta)
            iteration_log.append(entry)
        if delta is not None and delta < tol:
            break
    # the returned rank frame is materialized, so the static graph
    # frames pinned for the loop are dead weight after return
    for df in (e, out_deg, nodes):
        release(df)
    return ranks


def _pagerank_driver(
    spark, pdf, damping, max_iter, tol, undirected, iteration_log
) -> DataFrame:
    """``pagerank``'s loop in numpy over a collected (src, dst) pandas
    frame: the same graph (self-loops dropped, symmetrized if
    ``undirected``, unique pairs), the same per-round formula in the
    same association, the same dangling mass and ``tol`` exit."""
    import time

    import numpy as np
    import pandas as pd

    e = pdf.to_numpy(dtype=np.int64).reshape(-1, 2)
    if undirected:
        e = np.concatenate([e, e[:, ::-1]])
    e = np.unique(e[e[:, 0] != e[:, 1]], axis=0)
    nodes = np.unique(e)
    n = len(nodes)
    schema = "node long, rank double"
    if n == 0:
        return local_df(spark, [], schema)
    src, dst = np.searchsorted(nodes, e[:, 0]), np.searchsorted(nodes, e[:, 1])
    deg = np.bincount(src, minlength=n)
    dangling = deg == 0
    ranks = np.full(n, 1.0 / n)
    dang = ranks[dangling].sum()
    for i in range(max_iter):
        t0 = time.time()
        inflow = np.bincount(dst, weights=ranks[src] / deg[src], minlength=n)
        new_ranks = (1.0 - damping) / n + damping * dang / n + damping * inflow
        delta = float(np.abs(new_ranks - ranks).sum()) if tol > 0 else None
        dang = new_ranks[dangling].sum()
        ranks = new_ranks
        if iteration_log is not None:
            entry = {"iter": i, "wall_sec": round(time.time() - t0, 3), "mode": "driver"}
            if delta is not None:
                entry["l1_delta"] = delta
            iteration_log.append(entry)
        if delta is not None and delta < tol:
            break
    return local_df(spark, pd.DataFrame({"node": nodes, "rank": ranks}), schema)


def entity_pagerank(spark, store_dir: str, pred: str = "co_occurs_with", **kw) -> DataFrame:
    """Rank canonical entities by PageRank over one predicate's edge
    set from the incremental triple store (``read_kg_triples`` view, so
    retired ids are already resolved).  Co-occurrence predicates are
    undirected; verb predicates directed."""
    from neuroner_spark.plans.kg_pipeline import SYMMETRIC_PREDS, read_kg_triples

    triples = read_kg_triples(spark, store_dir).filter(F.col("pred") == pred)
    edges = triples.select(F.col("subj").alias("src"), F.col("obj").alias("dst"))
    return pagerank(edges, undirected=pred in SYMMETRIC_PREDS, **kw)


def link_edges(
    pages: DataFrame, url_col: str = "url", html_col: str = "html"
) -> DataFrame:
    """(src, dst) url-level hyperlink edges from the pages table's raw
    ``html`` binary — the web link graph a Common-Crawl corpus carries
    alongside its text.  Entirely JVM-side: decode + one
    ``regexp_extract_all`` over href attributes + explode; no UDF, no
    shuffle (the explode preserves the scan's partitioning).

    Relative hrefs (no scheme) are resolved against the source page's
    scheme://host; fragment-only and javascript/mailto pseudo-links are
    dropped.  Output is NOT distinct()ed — edge multiplicity is signal
    for weighted consumers; ``host_graph`` aggregates it.

    Contract: double-quoted href attributes only (the normalized form
    crawl extractors emit); single-quoted/unquoted attributes need a
    second regex alternative here — one line, same plan shape."""
    html_txt = F.decode(F.col(html_col), "UTF-8")
    hrefs = F.regexp_extract_all(html_txt, F.lit(r'href="([^"#]+)'), 1)
    base = F.regexp_extract(F.col(url_col), r"^([a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]+)", 1)
    raw = pages.select(
        F.col(url_col).alias("src"), base.alias("_base"), F.explode(hrefs).alias("_h")
    ).filter(~F.col("_h").rlike(r"^(javascript:|mailto:|data:)"))
    resolved = F.when(F.col("_h").rlike(r"^[a-zA-Z][a-zA-Z0-9+.-]*://"), F.col("_h")).otherwise(
        F.concat(
            F.col("_base"),
            F.when(F.col("_h").startswith("/"), F.col("_h")).otherwise(
                F.concat(F.lit("/"), F.col("_h"))
            ),
        )
    )
    return raw.select("src", resolved.alias("dst")).filter(F.col("dst") != F.col("src"))


def host_graph(edges: DataFrame) -> DataFrame:
    """url-level link edges -> weighted host-level graph
    (src_host, dst_host, n_links), self-host edges dropped.  One
    map-side-combined groupBy on the host pair — at crawl scale the
    output is hosts², bounded far below the url-level edge count."""
    from neuroner_spark.functions.urls import url_host

    return (
        edges.select(
            url_host(F.col("src")).alias("src"), url_host(F.col("dst")).alias("dst")
        )
        .filter((F.col("src") != F.col("dst")) & (F.col("dst") != ""))
        .groupBy("src", "dst")
        .agg(F.count("*").alias("n_links"))
    )


def host_pagerank(pages: DataFrame, **kw) -> DataFrame:
    """Host-importance ranking over the crawl's own hyperlink graph:
    link extraction -> host aggregation -> ``pagerank``.  The id space
    is xxhash64(host) (collision-negligible at crawl scale); returns
    (host, rank) by joining the ranks back to the distinct host table
    (one broadcast-sized join at host cardinality)."""
    hg = pin(host_graph(link_edges(pages)), "local_checkpoint")
    ids = (
        hg.select(F.col("src").alias("host"))
        .unionByName(hg.select(F.col("dst").alias("host")))
        .distinct()
        .select("host", F.xxhash64("host").alias("node"))
    )
    ranks = pagerank(
        hg.select(F.xxhash64("src").alias("src"), F.xxhash64("dst").alias("dst")), **kw
    )
    return ranks.join(ids, "node").select("host", "rank")


def top_entities_per_component(
    spark,
    store_dir: str,
    pred: str = "co_occurs_with",
    k: int = 3,
    **pagerank_kw,
) -> DataFrame:
    """Analytics consumer over the incremental triple store: PageRank
    the entity graph of one predicate, connected-components the same
    edge set, and return each component's top-``k`` entities by rank —
    the "who matters inside each cluster" table a KG browser serves.

    Plan: the edge set is derived ONCE (read_kg_triples view);
    components and ranks are two loops over it; the final top-k is a
    rank-partitioned window over component (node-keyed shuffle, no
    global sort)."""
    from pyspark.sql import Window

    from neuroner_spark.operators.components import connected_components
    from neuroner_spark.plans.kg_pipeline import SYMMETRIC_PREDS, read_kg_triples

    triples = read_kg_triples(spark, store_dir).filter(F.col("pred") == pred)
    edges = pin(
        triples.select(F.col("subj").alias("src"), F.col("obj").alias("dst")),
        "local_checkpoint",
    )
    ranks = pagerank(edges, undirected=pred in SYMMETRIC_PREDS, **pagerank_kw)
    comp = connected_components(edges)
    w = Window.partitionBy("component").orderBy(F.desc("rank"), F.asc("node"))
    return (
        ranks.join(comp, "node")
        .withColumn("pos", F.row_number().over(w))
        .filter(F.col("pos") <= k)
        .select("component", "pos", F.col("node").alias("entity"), "rank")
    )
