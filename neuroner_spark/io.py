"""Table I/O seam (SURVEY §7 sandbox substitution: Iceberg -> Parquet).

All stage materialization goes through ``write_table``/``read_table``
so the production swap to Iceberg is THIS file only, and every pin of
an intermediate in executor storage goes through ``pin``/``release``/
``pin_scope`` (the policy is in ``pin``'s docstring):

- parquet (default): plain directory tables, used everywhere in the
  sandbox (no Iceberg runtime jars present).
- iceberg: `df.writeTo(table).using("iceberg")` against a configured
  catalog; stage fingerprints then become snapshot ids (O(1)) instead
  of one-pass hashes. Selecting it without the runtime raises with the
  exact spark-submit flags needed.

Set NEURONER_TABLE_FORMAT=iceberg (plus a catalog config) to switch.
"""

from __future__ import annotations

import contextlib
import contextvars
import logging
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

def _table_format() -> str:
    # read per call (not at import) so tests and spark-submit wrappers
    # can flip the format without re-importing the package
    return os.environ.get("NEURONER_TABLE_FORMAT", "parquet")


def _require_iceberg(spark: SparkSession) -> None:
    try:
        # attribute access on spark._jvm is lazy (returns a JavaPackage
        # without touching the classpath) — Class.forName actually loads
        spark._jvm.java.lang.Class.forName("org.apache.iceberg.spark.SparkCatalog")
    except Exception as e:
        raise RuntimeError(
            "NEURONER_TABLE_FORMAT=iceberg requires the Iceberg Spark "
            "runtime, e.g. spark-submit --packages "
            "org.apache.iceberg:iceberg-spark-runtime-4.0_2.13:<ver> "
            "--conf spark.sql.catalog.kg=org.apache.iceberg.spark.SparkCatalog "
            "--conf spark.sql.catalog.kg.type=hadoop "
            "--conf spark.sql.catalog.kg.warehouse=<path>"
        ) from e


def write_table(df: DataFrame, path: str, mode: str = "overwrite", partition_by: list[str] | None = None) -> None:
    if _table_format() == "iceberg":
        _require_iceberg(df.sparkSession)
        table = path.replace("/", ".").strip(".")
        writer = df.writeTo(f"kg.{table}").using("iceberg")
        if mode == "overwrite":
            writer.createOrReplace()
        else:
            writer.append()
        return
    w = df.write.mode(mode)
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.parquet(path)


def read_table(spark: SparkSession, path: str) -> DataFrame:
    if _table_format() == "iceberg":
        _require_iceberg(spark)
        return spark.read.format("iceberg").load("kg." + path.replace("/", ".").strip("."))
    return spark.read.parquet(path)


# innermost-last stack of open pin_scope() lists
_PIN_SCOPES: contextvars.ContextVar[tuple] = contextvars.ContextVar("pin_scopes", default=())


def pin(df: DataFrame, how: str) -> DataFrame:
    """Pin ``df`` in executor storage; the one place the engine does so.

    Policy (every intermediate read more than once goes through here):

    - ``how="persist"``: lazy — the first action fills the cache.  The
      frame keeps its ``outputPartitioning``, so iterative joins
      against a persisted, hash-repartitioned frame co-partition with
      no exchange (PageRank's static graph and rank frames).
    - ``how="local_checkpoint"``: eager — cuts the lineage, so a loop's
      analysis cost stays bounded and branches read back the blocks
      instead of re-running the upstream.  It reads back with UNKNOWN
      partitioning; repartition after it when the consumers share a key.
    - Every pin is released, either per round by ``release(df)`` once
      the caller knows the frame is dead, or by the innermost
      ``pin_scope()`` on exit.  Stage writers (the ``run_pipeline`` and
      ``run_corpus_prep`` stage closures, the incremental stores, each
      streaming micro-batch) open a scope around build + write: their
      outputs are read back from storage, so nothing pinned inside is
      live afterwards.  A pin made outside any scope stays until its
      caller releases it — a direct operator call may return a lazy
      frame that still reads it.
    - Release goes through a precise handle: the persisted DataFrame
      itself, or the checkpointed ``LogicalRDD``'s RDD (``df.rdd``
      builds a fresh, never-persisted RDD — unpersisting it frees
      nothing).  Both drop the entry from ``getPersistentRDDs()``.
    """
    if how == "persist":
        out = df.persist()
        free = lambda: out.unpersist(blocking=False)  # noqa: E731
    elif how == "local_checkpoint":
        out = df.localCheckpoint()
        rdd = out._jdf.queryExecution().logical().rdd()
        free = lambda: rdd.unpersist(False)  # noqa: E731
    else:
        raise ValueError(f"pin: how must be 'persist' or 'local_checkpoint', got {how!r}")
    scopes = _PIN_SCOPES.get()
    owner = scopes[-1] if scopes else None

    def _release() -> None:
        free()
        if owner is not None and _release in owner:
            owner.remove(_release)

    if owner is not None:
        owner.append(_release)
    out._pin_release = _release
    return out


def release(df: DataFrame) -> None:
    """Free one pin made by ``pin`` (idempotent)."""
    df._pin_release()


@contextlib.contextmanager
def pin_scope():
    """Release, on exit, every pin made inside the block (and not
    already released).  Scopes nest; a pin belongs to the innermost."""
    pins: list = []
    token = _PIN_SCOPES.set(_PIN_SCOPES.get() + (pins,))
    try:
        yield
    finally:
        _PIN_SCOPES.reset(token)
        for fn in reversed(pins[:]):
            fn()


# The most rows a driver-side operator path takes from one frame: the
# inputs of connected_components, canonical_map, pagerank,
# merge_canonical_snapshots (prior and edges) and incremental_near_dedup
# (the batch's band rows) at or under it are solved on the driver,
# larger ones run distributed.
DRIVER_ROWS_LIMIT = 100_000


def collect_small(df: DataFrame):
    """``df`` as a pandas frame when it has at most ``DRIVER_ROWS_LIMIT``
    rows, else ``None``.

    One bounded job (``limit(LIMIT + 1)``) over an Arrow ``toPandas``:
    for a small frame, per-round Spark jobs cost scheduler latency, not
    work, so an operator with a driver path solves it there instead.
    The row-collect path measured ~0.55 s against ~0.24 s for the Arrow
    transfer of the same dictionary-sized probe."""
    pdf = df.limit(DRIVER_ROWS_LIMIT + 1).toPandas()
    return pdf if len(pdf) <= DRIVER_ROWS_LIMIT else None


def local_df(spark: SparkSession, rows, schema) -> DataFrame:
    """Driver rows -> DataFrame as a true LocalRelation (Arrow path).

    ``spark.createDataFrame(list_of_tuples)`` pickles the rows into a
    Python RDD: every downstream broadcast build, join or collect then
    launches Python workers to re-evaluate it (measured: 0.86 s for a
    limit+collect and +0.32 s per broadcast-join on a 12-row frame at
    local[32]).  Routing the same rows through a pandas frame takes the
    Arrow ``createDataFrame`` path, which plans a LocalRelation —
    ``isLocal()`` is true, collects are driver-side (13 ms), broadcast
    builds never touch a Python worker, and the optimizer can fold or
    prune the relation.  Use for every driver-built frame on a query
    path (alias dictionaries, union-find results, probe key lists,
    partition offsets).  Falls back to the classic path, with a logged
    warning, only if the pandas conversion is rejected (exotic types).

    ``rows``: any iterable of tuples (read once) or a pandas DataFrame;
    ``schema``: DDL string or StructType — names are applied
    positionally, exactly like ``createDataFrame(rows, schema)``.
    Integer columns holding nulls are built as pandas ``Int64`` so
    64-bit ids survive exactly (a plain int column with a None turns
    into float64, which rounds ids above 2^53).
    """
    import pandas as pd

    if isinstance(schema, str):
        schema = T.DataType.fromDDL(schema)
    if isinstance(rows, pd.DataFrame):
        pdf = rows
    else:
        rows = list(rows)
        pdf = pd.DataFrame(rows, columns=schema.fieldNames())
        for i, field in enumerate(schema.fields):
            if isinstance(field.dataType, T.IntegralType) and pdf.iloc[:, i].isna().any():
                pdf.isetitem(i, pd.array([r[i] for r in rows], dtype="Int64"))
    try:
        return spark.createDataFrame(pdf, schema)
    except Exception as e:
        # exotic value types pandas/Arrow refuse — keep the classic
        # row-pickling path as the correctness fallback
        logging.getLogger(__name__).warning(
            "local_df: Arrow conversion rejected (%s); falling back to pickled rows", e
        )
        return spark.createDataFrame(
            rows.itertuples(index=False) if isinstance(rows, pd.DataFrame) else rows, schema
        )
