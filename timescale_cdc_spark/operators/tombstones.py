"""Shared delete/tombstone machinery for the persisted ANN indexes: a
pretraining corpus takes takedowns, so the six index classes
(IvfIndex, LshIndex, PqIndex, IvfPqIndex, Sq8Index, IvfSq8Index) need
``delete`` to take effect immediately and compaction to reclaim the
bytes later — the Lucene live-docs / FAISS ``remove_ids`` pattern
re-expressed for a parquet-backed store. The six classes call it only
through their shared base, operators/persisted_index.py:

* ``delete(ids)`` appends the (distinct, not-already-deleted) ids to
  ``<index>/tombstones/`` — an O(|batch|) parquet append, never a
  corpus rewrite, so a takedown is cheap and immediate;
* every read accessor filters live rows with a broadcast ANTI-JOIN
  against the tombstone set (takedown-sized — orders of magnitude
  below the corpus, so the join broadcasts; when no tombstone dir
  exists the accessor returns the bare scan, zero overhead);
* ``compact()`` physically rewrites the data dirs MINUS tombstoned
  rows behind durable.py's atomic two-rename swap and clears the
  tombstone dir LAST — a crash anywhere mid-purge leaves the
  tombstones in place, reads stay filtered/correct, and the next
  compact finishes the job.

Single-writer contract for delete/compact, like all maintenance on
these indexes.
"""

from __future__ import annotations

import os
import shutil
from collections.abc import Iterable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

_TOMB = "tombstones"


def tombstones_path(base: str) -> str:
    return os.path.join(base, _TOMB)


def read_tombstones(spark: SparkSession, base: str) -> DataFrame | None:
    """The deleted-id set as (c_id), or None when nothing was ever
    deleted (callers skip the anti-join entirely in that case)."""
    p = tombstones_path(base)
    if not os.path.isdir(p):
        return None
    return spark.read.parquet(p).select("c_id").distinct()


def count_tombstones(spark: SparkSession, base: str) -> int:
    t = read_tombstones(spark, base)
    return t.count() if t is not None else 0


def add_tombstones(
    spark: SparkSession,
    base: str,
    ids: DataFrame | Iterable,
    id_col: str = "vec_id",
) -> int:
    """Record deletions. ``ids`` is a DataFrame with ``id_col`` (any
    extra columns ignored) or a plain Python iterable of id values.
    Only ids NOT already tombstoned are appended (so
    ``count_tombstones`` and the staleness deleted fraction stay a
    distinct count without a per-read dedup); returns how many new
    ids were recorded. Ids absent from the corpus are recorded
    anyway — validating membership would cost a corpus scan per
    takedown batch, and a no-op tombstone is harmless to reads.

    Documented tradeoff (ADVICE r14): because no-op takedowns are
    recorded, ``count_tombstones``-derived metrics (an index's
    ``deleted_fraction`` / ``compact_recommended``) can OVERSTATE the
    dead fraction when callers routinely tombstone ids that were
    never in the corpus, triggering a compaction earlier than strictly
    needed. The compaction itself stays correct (it rewrites live
    rows; a no-op tombstone removes nothing). If a workload makes
    this matter, compute the honest fraction at maintenance cadence
    with a tombstone∩corpus semi-join count instead of
    ``count_tombstones`` — per-takedown membership validation is
    deliberately NOT done here (corpus scan per batch)."""
    if isinstance(ids, DataFrame):
        batch = ids.select(F.col(id_col).alias("c_id")).distinct()
    else:
        vals = list(ids)
        batch = spark.createDataFrame(
            [(v,) for v in vals], schema="c_id long"
        ).distinct()
    existing = read_tombstones(spark, base)
    if existing is not None:
        batch = batch.join(F.broadcast(existing), "c_id", "left_anti")
    # localCheckpoint: the append below WRITES into the dir the
    # anti-join READS (the repair() read-write-cycle lesson,
    # similarity.py) — and the count doubles as the materializer
    batch = batch.localCheckpoint()
    n = batch.count()
    if n:
        batch.write.mode("append").parquet(tombstones_path(base))
        spark.catalog.refreshByPath(tombstones_path(base))
    batch.unpersist()
    return n


def filter_live(
    spark: SparkSession, base: str, df: DataFrame, col: str = "c_id"
) -> DataFrame:
    """Drop tombstoned rows from a data scan. No tombstones → the
    input scan untouched (the common case pays nothing)."""
    t = read_tombstones(spark, base)
    if t is None:
        return df
    return df.join(
        F.broadcast(t.withColumnRenamed("c_id", col)), col, "left_anti"
    )


def clear_tombstones(spark: SparkSession, base: str) -> None:
    p = tombstones_path(base)
    if os.path.isdir(p):
        shutil.rmtree(p)
        spark.catalog.refreshByPath(p)
