"""Sinks.

Default sink is parquet (partitioned, predicate-pushdown-friendly); the
single-file CSV sink exists for golden-file parity with the reference's
``write.csv`` outputs (S9 — build_datasets_wait_times.R:558-567).

How ``write_parquet`` writes:

- a local result (``df.isLocal()``, i.e. a ``LocalRelation`` such as
  the adjusted panel) overwritten on a local path is written by
  pyarrow from one ``toArrow()``, as a hive-partitioned dataset of
  ``part-{i}.parquet`` files. It skips Spark's writer, whose first use
  costs more than the whole write of a driver-sized result;
- anything else (non-local or large data, ``append``/``ignore``/
  ``error`` modes, non-local filesystems, dynamic partition overwrite,
  partition columns other than integral, date or boolean, an empty
  result) goes through Spark's writer, the only path that scales.

Overwrites on a local path, with either writer, write a unique hidden
sibling first and then swap it into place with two renames, so a write
that fails while evaluating or writing leaves the previous output as it
was; a symlinked output path is swapped at its target.
``write_single_csv`` always uses Spark's CSV writer (its formatting is the golden files'); it writes into a
unique hidden sibling directory, moves the one part file into place and
removes the directory.
"""

from __future__ import annotations

import glob
import os
import shutil
import uuid
from urllib.parse import urlparse

import pyarrow.parquet as pq
from pyspark.sql import DataFrame
from pyspark.sql import types as T

# partition column types whose hive directory names pyarrow spells as
# Spark does. Not strings: pyarrow percent-encodes each UTF-8 byte of a
# non-ASCII value (Spark decodes each byte as its own character) and has
# no spelling for "" (Spark writes it as NULL); nor timestamps, which
# read back from pyarrow's spelling as strings.
_PYARROW_PARTITION_TYPES = (T.IntegralType, T.DateType, T.BooleanType)


def _sibling(path: str, tag: str) -> str:
    """A unique hidden path next to ``path`` (same filesystem, so a
    rename publishes it; the leading dot hides it from dataset readers
    of the parent directory)."""
    parent, name = os.path.split(os.path.abspath(path))
    os.makedirs(parent, exist_ok=True)
    return os.path.join(parent, f".{name}.{tag}-{uuid.uuid4().hex}")


def _publish(tmp: str, path: str) -> None:
    """Swap the finished ``tmp`` into ``path``, then delete the old
    output. The swap is two renames, so it is not atomic: if the second
    fails, the old output is renamed back; if the process dies between
    them, the old output is left under its hidden ``.<name>.old-*``
    name."""
    if not os.path.lexists(path):
        os.rename(tmp, path)
        return
    old = _sibling(path, "old")
    os.rename(path, old)
    try:
        os.rename(tmp, path)
    except BaseException:
        os.rename(old, path)
        raise
    if os.path.isdir(old):
        shutil.rmtree(old)
    else:
        os.remove(old)


def write_single_csv(
    df: DataFrame,
    path: str,
    order_by: list[str] | None = None,
    null_value: str = "",
) -> str:
    """Write one headered CSV file at ``path`` (reference parity:
    ``to_csv(index=False)``, scripts/build_datasets_main.py:289).

    ``coalesce(1)`` is correct *only* for reference-sized outputs (tens
    of thousands of rows); large results should use ``write_parquet``.
    An optional sink-time sort reproduces the reference's ordered CSVs
    (O1 — ``arrange(org_code, year, quarter)``); ``null_value="NA"``
    reproduces R ``write.csv``'s NA rendering.
    """
    if order_by:
        df = df.orderBy(*order_by)
    tmp = _sibling(path, "tmp")
    try:
        (df.coalesce(1).write.mode("overwrite").option("header", True)
           .option("nullValue", null_value).option("emptyValue", "")
           .csv(tmp))
        part = glob.glob(os.path.join(tmp, "part-*.csv"))[0]
        os.replace(part, path)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return path


def write_parquet(
    df: DataFrame, path: str, partition_by: list[str] | None = None, mode: str = "overwrite"
) -> str:
    """Canonical sink: parquet, optionally hive-partitioned so downstream
    readers get partition pruning for free. See the module docstring
    for how the writer is chosen and how an overwrite is published."""
    dynamic = partition_by and df.sparkSession.conf.get(
        "spark.sql.sources.partitionOverwriteMode", "static"
    ).lower() == "dynamic"
    if mode != "overwrite" or urlparse(path).scheme or dynamic:
        _spark_parquet(df, path, partition_by, mode)
        return path
    # swap at a symlink's target, so the link keeps pointing at the output
    dest = os.path.realpath(path)
    tmp = _sibling(dest, "tmp")
    try:
        local = df.isLocal() and all(
            isinstance(df.schema[c].dataType, _PYARROW_PARTITION_TYPES) for c in partition_by or ()
        )
        table = df.toArrow() if local else None
        if table is not None and table.num_rows:
            # one chunk, so one row group per file rather than one per
            # Spark partition the result came from
            pq.write_to_dataset(
                table.combine_chunks(), tmp, partition_cols=partition_by or None,
                basename_template="part-{i}.parquet",
            )
        else:  # pyarrow would write no file for an empty table
            _spark_parquet(df, tmp, partition_by, "overwrite")
        _publish(tmp, dest)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return path


def _spark_parquet(df: DataFrame, path: str, partition_by: list[str] | None, mode: str) -> None:
    w = df.write.mode(mode)
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.parquet(path)


def write_bucketed_table(
    df: DataFrame,
    table: str,
    bucket_cols: list[str],
    num_buckets: int = 64,
    sort_cols: list[str] | None = None,
    mode: str = "overwrite",
) -> str:
    """Bucketed managed-table sink: co-locates rows by hash(bucket_cols)
    at WRITE time so every later equi-join or aggregation on those
    columns skips its shuffle (Exchange) entirely.

    The scale play: fact tables that are repeatedly joined on the same
    key (lineitem/orders on orderkey; panels on org_code) pay one
    bucketed write, then every downstream join is exchange-free on both
    sides when bucket counts match. ``sort_cols`` additionally makes
    the join sort-free (SortMergeJoin reads pre-sorted buckets).
    """
    w = df.write.mode(mode).bucketBy(num_buckets, *bucket_cols)
    if sort_cols:
        w = w.sortBy(*sort_cols)
    w.saveAsTable(table)
    return table


def overwrite_partitions(
    df: DataFrame, path: str, partition_by: list[str]
) -> str:
    """Incremental refresh sink: dynamic partition overwrite — only the
    partitions present in ``df`` are replaced; everything else on disk
    is untouched.

    This is the monthly-release production shape: a new NHS quarter
    lands, the pipeline recomputes that (year, quarter) slice, and the
    sink rewrites one partition instead of 100 TB. Requires partitioned
    layout (see ``write_parquet(partition_by=...)``)."""
    spark = df.sparkSession
    prev = spark.conf.get("spark.sql.sources.partitionOverwriteMode", "static")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try:
        df.write.mode("overwrite").partitionBy(*partition_by).parquet(path)
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev)
    return path


def write_jsonl_shards(
    df: DataFrame,
    path: str,
    num_shards: int,
    id_col: str,
    compression: str | None = "gzip",
    mode: str = "overwrite",
) -> str:
    """Training-data export sink: JSON-Lines shards, the interchange
    format LLM data pipelines exchange corpora in.

    Shard membership is *deterministic* (md5-bucket of ``id_col``, the
    same portable bucketing the samplers use), not round-robin: re-runs
    of the export place every document in the same ``shard=k``
    directory, so downstream consumers can diff/refresh shards
    incrementally instead of re-downloading the corpus. One exchange
    (repartition on the shard key) co-locates each shard into one task
    -> one file per shard directory; compression defaults to gzip
    (splittable-at-shard granularity, which is the unit consumers read
    anyway)."""
    from pyspark.sql import functions as F

    from nhs_data_pipeline_spark.llm.dedup import _MD5_H60

    # NULL ids hash via a NUL sentinel: a NULL shard value would route
    # the row to shard=__HIVE_DEFAULT_PARTITION__, OUTSIDE the
    # shard=0..N-1 layout consumers iterate — silent data loss.
    key = f"coalesce(cast({id_col} as string), '\\u0000')"
    shard = F.expr(f"pmod({_MD5_H60.format(x=key)}, {num_shards})")
    w = (
        df.withColumn("shard", shard)
        .repartition(num_shards, "shard")
        # In-shard row order would otherwise be shuffle-fetch order —
        # nondeterministic across runs. Sorting by id makes each
        # shard's CONTENT byte-stable across re-runs (part filenames
        # still embed a per-run UUID), which is what "diff/refresh
        # incrementally" requires, not just stable membership.
        .sortWithinPartitions(id_col)
        .write.mode(mode)
        .partitionBy("shard")
    )
    if compression:
        w = w.option("compression", compression)
    w.json(path)
    return path
