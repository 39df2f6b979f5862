"""One persisted-index lifecycle for the six build-once ANN indexes
(``IvfIndex``, ``LshIndex``, ``PqIndex``, ``IvfPqIndex``, ``Sq8Index``,
``IvfSq8Index``): the storage half of the global-partitioner plus
local-codec split. Each class keeps its own build, append and topk
(the partitioner and codec); this base owns what they share:

* the layout: every table is a parquet dir ``<path>/<name>``, with
  build-time facts in ``<path>/meta`` (read back by :meth:`meta`);
* the LIVE read: each data dir is read through the tombstone
  anti-join (tombstones.py), so a :meth:`delete` takes effect at once;
* :meth:`compact`: recover every data dir from a crashed swap FIRST,
  then rewrite each dir minus the tombstoned ids behind durable.py's
  atomic two-rename swap, then clear the tombstones LAST;
* the id-level :meth:`deleted_fraction` and the shared part of each
  ``staleness()`` report.

A subclass declares ``DATA_DIRS`` (its id-keyed tables, the first one
holding one row per id or, for LSH, ``chunks`` rows per id) and
``PARTITION_BY`` (the partition columns every data dir is written
with: ``()``, ``("_cell",)`` or ``("chunk", "kp")``).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from timescale_cdc_spark.durable import recover_swap, swap_rewrite
from timescale_cdc_spark.operators import tombstones as tb


class PersistedIndex:
    DATA_DIRS: tuple[str, ...] = ()
    PARTITION_BY: tuple[str, ...] = ()

    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        self.path = path.rstrip("/")

    # -- layout --------------------------------------------------------

    def _dir(self, name: str) -> str:
        return f"{self.path}/{name}"

    def _read(self, name: str) -> DataFrame:
        return self.spark.read.parquet(self._dir(name))

    def _write_small(self, name: str, df: DataFrame) -> None:
        """Overwrite a small side table (meta, centroids, codebooks)
        as one file."""
        df.coalesce(1).write.mode("overwrite").parquet(self._dir(name))

    def has_meta(self) -> bool:
        return os.path.isdir(self._dir("meta"))

    def meta(self) -> dict:
        """The build-time facts written next to the data."""
        return self._read("meta").first().asDict()

    # -- live reads ----------------------------------------------------

    def _live(self, name: str) -> DataFrame:
        """LIVE rows of a data dir: tombstoned ids anti-joined out
        (zero overhead until the first :meth:`delete`). A partition
        filter on the result still prunes: Catalyst pushes it through
        the anti-join to the scan."""
        return tb.filter_live(self.spark, self.path, self._read(name))

    def live_ids(self) -> DataFrame:
        """Distinct live ids as ``(c_id)``."""
        return self._live(self.DATA_DIRS[0]).select("c_id").distinct()

    # -- takedowns -----------------------------------------------------

    def delete(self, ids, id_col: str = "vec_id") -> int:
        """Tombstone deletions. ``ids``: a DataFrame with ``id_col``
        or an iterable of id values. Effective immediately in every
        live read, so a deleted id leaves every topk at once; bytes
        are reclaimed by :meth:`compact`. Returns newly recorded
        ids."""
        return tb.add_tombstones(self.spark, self.path, ids, id_col)

    def compact(self) -> int:
        """Physically purge tombstoned rows. Every data dir is first
        healed from a crashed earlier swap (a dir whose live copy
        vanished between the two renames is restored), then rewritten
        minus the dead ids behind the atomic two-rename swap, in its
        partition layout with one file per partition; the tombstones
        are cleared LAST, so a crash anywhere leaves reads filtered
        and the next compact finishes. Single-writer, like all
        maintenance here. Returns live rows of the first data dir
        (0 for an unbuilt index)."""
        dirs = [self._dir(d) for d in self.DATA_DIRS]
        for d in dirs:
            recover_swap(d)
        if not all(os.path.isdir(d) for d in dirs):
            return 0
        n = self._live(self.DATA_DIRS[0]).count()
        for name, d in zip(self.DATA_DIRS, dirs):
            live = self._live(name)
            if self.PARTITION_BY:
                live = live.repartition(*self.PARTITION_BY)
            swap_rewrite(d, live.write.partitionBy(*self.PARTITION_BY))
            self.spark.catalog.refreshByPath(d)
        tb.clear_tombstones(self.spark, self.path)
        return n

    def deleted_fraction(self) -> float:
        """Tombstoned share of the stored ids — the compaction
        trigger."""
        return self._deleted_fraction(None)

    def _deleted_fraction(self, n_live: int | None) -> float:
        """``n_live`` (live ids, counted here when None) saves a count
        when the caller already has it."""
        n_dead = tb.count_tombstones(self.spark, self.path)
        if not n_dead:
            return 0.0
        if n_live is None:
            n_live = self.live_ids().count()
        return n_dead / (n_live + n_dead)

    def _staleness(
        self, info: dict, n_now: int | None, signals: dict, drifted: bool
    ) -> dict:
        """The report every appendable index shares: ``n_now`` and
        ``appended_fraction`` count LIVE rows (deletes of build-time
        rows can push the difference negative, so it is clamped at 0);
        ``compact_recommended`` flips past a 10% deleted share and
        ``rebuild_recommended`` past a 25% appended share or when the
        class's own drift signal (``drifted``) fires. An empty live
        corpus (every id deleted) reports ``n_now`` 0."""
        n_now = n_now or 0
        appended = (
            max(0.0, (n_now - info["n_at_build"]) / n_now) if n_now else 0.0
        )
        deleted = self._deleted_fraction(n_now)
        return {
            "n_at_build": info["n_at_build"],
            "n_now": n_now,
            "appended_fraction": appended,
            **signals,
            "deleted_fraction": deleted,
            "compact_recommended": bool(deleted > 0.10),
            "rebuild_recommended": bool(appended > 0.25 or drifted),
        }
