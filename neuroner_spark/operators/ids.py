"""Distributed sequential id assignment (SURVEY.md O1 — frequency-
ordered vocab ids, reference ``src/utils.py :: order_dictionary`` +
``src/dataset.py :: load_dataset`` index assignment).

``row_number() OVER (ORDER BY ...)`` with no partition spec moves the
whole table to ONE partition — fine at 31 rows, a scale-killer at a
web-corpus vocabulary (~10^8 tokens).  This is the two-phase shape:

  1. ``repartitionByRange`` on the order key — partitions ARE global
     order ranges (pid 0 holds the globally-first rows, etc.).
  2. rank locally (window partitioned by partition id — never a
     single-partition WindowExec).
  3. add per-partition cumulative row-count offsets (a P-row collect,
     O(parallelism) driver data).

Identical output to the global window for any total-order key;
deterministic because the key is total (ties must be broken by a
unique column, e.g. the token itself).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from neuroner_spark.io import local_df, pin


def assign_sequential_ids(
    df: DataFrame,
    order_cols: list,
    id_col: str = "idx",
    n_partitions: int | None = None,
) -> DataFrame:
    """df + total-order sort expressions -> df with ``id_col`` = 1-based
    global rank. ``order_cols``: Column expressions (may include desc()).
    """
    spark = df.sparkSession
    P = n_partitions or spark.sparkContext.defaultParallelism
    ranged = df.repartitionByRange(P, *order_cols).withColumn(
        "_pid", F.spark_partition_id()
    )
    # materialize once so the sizes pass and the rank pass share the
    # shuffle output instead of recomputing the upstream plan twice
    ranged = pin(ranged, "local_checkpoint")
    sizes = {
        r["_pid"]: r["n"]
        for r in ranged.groupBy("_pid").agg(F.count("*").alias("n")).collect()
    }
    offsets, acc = [], 0
    for pid in range(P):
        offsets.append((pid, acc))
        acc += sizes.get(pid, 0)
    off_df = local_df(spark, offsets, "_pid int, _off long")
    w = Window.partitionBy("_pid").orderBy(*order_cols)
    return (
        ranged.withColumn("_lrank", F.row_number().over(w))
        .join(F.broadcast(off_df), "_pid")
        .withColumn(id_col, (F.col("_off") + F.col("_lrank")).cast("long"))
        .drop("_pid", "_off", "_lrank")
    )
