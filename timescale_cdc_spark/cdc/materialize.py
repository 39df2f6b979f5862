"""Incremental materialization: maintain a current-state table from
change batches — the MERGE INTO / upsert pattern (no Delta in this
environment, so emulated with anti-join + union over a PK-bucketed,
version-manifested layout).

This is the consumer-side complement of replay (cdc/replay.py): replay
folds the WHOLE log each time (O(log)); a materialized table applies
only the new batch — and with PK bucketing, rewrites only the buckets
containing touched keys (O(batch + touched buckets)), not the whole
table. That is the difference that matters when the log is 100 TB and
the live table is 100 GB: a 1-row batch rewrites 1/n_buckets of the
table, not all of it.

Crash safety: the table is a durable.VersionedRegions store, one
region per PK bucket:

    path/_MANIFEST.json           {"version": 7, "n_buckets": 16,
                                   "buckets": {"3": "v_000007", ...},
                                   "history": {"3": "v_000006", ...}}
    path/bucket=3/v_000007/*.parquet

Every merge lands in NEW version directories, invisible until the
manifest is atomically replaced; a crash at any point leaves the old
manifest pointing at intact data, and a torn manifest raises instead
of reading as an empty table. The previous generation's bucket map is
retained (``history``), so a reader that resolved its paths before a
concurrent writer's commit still scans a consistent snapshot, however
cold its buckets are; staler readers fail loudly (``FileNotFoundError``
from ``store.paths``) rather than silently reading a smaller table.
Writers are single-threaded per table (the reference's connector is a
single task per relation, cdc-timescale-connector.json:8).

Scale: the merge is one anti-join + union over ONLY the touched
buckets; both sides shuffle on the PK once, and because the stored
layout is already PK-bucketed the anti-join is hash-local per bucket.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from timescale_cdc_spark.durable import VersionedRegions


class MaterializedTable:
    """A current-state table maintained by applying envelope batches."""

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        row_schema: T.StructType,
        pk: str,
        n_buckets: int = 16,
    ):
        self.spark = spark
        self.path = path
        self.row_schema = row_schema
        self.pk = pk
        self.n_buckets = n_buckets
        self.store = VersionedRegions(
            path, "buckets", "bucket", n_buckets=n_buckets
        )
        # The stored layout is authoritative: reopening an existing
        # table with a different n_buckets would make _bucket_expr
        # disagree with the on-disk bucketing (touched-bucket pruning
        # reads the wrong buckets, the anti-join misses existing rows).
        manifest = self.store.load()
        if manifest["buckets"] and manifest.get("n_buckets") != n_buckets:
            self.n_buckets = int(manifest["n_buckets"])

    def _bucket_expr(self, col: F.Column) -> F.Column:
        # Keys arriving from envelope JSON are strings; hash the string
        # form on BOTH sides so batch keys and stored rows agree.
        return F.pmod(F.hash(col.cast("string")), F.lit(self.n_buckets))

    def exists(self) -> bool:
        return bool(self.store.load()["buckets"])

    def read(self) -> DataFrame:
        paths = self.store.paths()
        if not paths:
            return self.spark.createDataFrame([], schema=self.row_schema)
        return self.spark.read.schema(self.row_schema).parquet(*paths)

    # -- merge ---------------------------------------------------------------

    def apply_changes(self, envelope_batch: DataFrame) -> None:
        """Upsert one envelope batch (MERGE semantics):

        - last event per PK within the batch wins (ts, event_id order)
        - DELETE → row removed; INSERT/UPDATE → `after` image upserted
        - only buckets containing touched keys are rewritten; a new
          version directory per touched bucket + one atomic manifest
          replace make the whole merge all-or-nothing.
        """
        manifest = self.store.load()
        key = F.coalesce(
            F.get_json_object("after", f"$.{self.pk}"),
            F.get_json_object("before", f"$.{self.pk}"),
        )
        w = Window.partitionBy(key).orderBy(F.desc("ts"), F.desc("event_id"))
        last = (
            envelope_batch.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
        )
        upserts = (
            last.filter(F.col("operation") != "DELETE")
            .select(F.from_json("after", self.row_schema).alias("r"))
            .select("r.*")
        )
        touched_keys = last.select(key.cast("string").alias("_k")).distinct()
        touched_buckets = sorted(
            r["_b"]
            for r in touched_keys.select(
                self._bucket_expr(F.col("_k")).alias("_b")
            )
            .distinct()
            .collect()
        )
        if not touched_buckets:
            return

        # Current rows of ONLY the touched buckets.
        touched_paths = [
            self.store.dir(b, manifest["buckets"][str(b)])
            for b in touched_buckets
            if str(b) in manifest["buckets"]
        ]
        if touched_paths:
            target = self.spark.read.schema(self.row_schema).parquet(*touched_paths)
        else:
            target = self.spark.createDataFrame([], schema=self.row_schema)

        untouched = target.join(
            touched_keys,
            target[self.pk].cast("string") == touched_keys["_k"],
            "left_anti",
        )
        merged = untouched.unionByName(upserts).withColumn(
            "_bucket", self._bucket_expr(F.col(self.pk))
        )

        # a bucket that stages no output had every row deleted
        staging = self.store.staging(manifest)
        merged.write.mode("overwrite").partitionBy("_bucket").parquet(staging)
        self.store.commit(
            manifest, {str(b) for b in touched_buckets},
            n_buckets=self.n_buckets,
        )
