"""One-slice local DataFrames for metadata-sized row sets.

``spark.createDataFrame(list_of_rows)`` parallelizes the pickled rows
into ``defaultParallelism`` slices; every action on the frame then pays
one Python-worker round-trip PER SLICE, because the rows deserialize in
Python at task time.  On ``local[32]`` that is 32 round-trips — benign
when they run in parallel (~0.3 s), pathological when an operator
``coalesce(1)``-s the frame for a one-file metadata write: the single
coalesced task chains all 32 round-trips SEQUENTIALLY (measured ~4-5 s
for an 8-row centroid frame; guide §4 — the Python boundary is the per
-crossing cost, so cross once).

``tiny_df`` parallelizes into exactly ONE slice: same pickled-row
semantics, same schema-driven conversions, one round-trip.  Use it for
any driver-built frame that is metadata-sized by construction
(centroids, codebooks, bin-slot grids, literal query sets).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


def tiny_df(spark: SparkSession, rows, schema) -> DataFrame:
    """Local DataFrame with a single partition (see module docstring)."""
    return spark.createDataFrame(
        spark.sparkContext.parallelize(list(rows), 1), schema
    )


def write_local_parquet(rows, fields, out_dir: str) -> None:
    """Driver-side parquet write of a METADATA-sized row set — the
    write twin of :func:`tiny_df` (r14 optimization round).

    ``tiny_df(...).coalesce(1).write.parquet(...)`` still launches one
    Spark job plus a committer round (~0.3 s of fixed cost) to persist
    rows the DRIVER already holds.  For geometry-bounded row sets
    (centroids, codebooks, frozen bin edges) pyarrow writes the same
    bytes with zero jobs; Spark reads the resulting directory exactly
    like its own output (ParquetDataset-compatible layout, with the
    ``_SUCCESS`` marker completeness probes look for).

    ``fields`` is a list of ``(name, pyarrow.DataType)`` in column
    order; ``rows`` is an iterable of equally-ordered tuples.  Values
    pass through pyarrow untouched — Python floats ARE IEEE doubles,
    so a reader sees bit-identical doubles either way.
    """
    import os
    import shutil

    import pyarrow as pa
    import pyarrow.parquet as pq

    rows = list(rows)
    if os.path.isdir(out_dir):
        shutil.rmtree(out_dir)
    os.makedirs(out_dir)
    table = pa.table(
        {
            name: pa.array([r[i] for r in rows], type=typ)
            for i, (name, typ) in enumerate(fields)
        }
    )
    pq.write_table(table, os.path.join(out_dir, "part-00000.parquet"))
    open(os.path.join(out_dir, "_SUCCESS"), "w").close()


def write_arrow_table(table, out_dir: str) -> None:
    """Write a driver-built pyarrow ``table`` as the one parquet file of
    a new directory ``out_dir`` (the ``commit_dir`` writer for states
    folded on the driver)."""
    import os

    import pyarrow.parquet as pq

    os.makedirs(out_dir)
    pq.write_table(table, os.path.join(out_dir, "part-00000.parquet"))
