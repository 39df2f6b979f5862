"""``cdc_state_sync``: closed-loop derived-state maintenance with reads
beside the writes.

One client runs cycles back to back. A cycle hands in one change batch
(Zipf-skewed keys, UPDATE-heavy, a few percent of rows with a late event
time) and runs the write path: ``changes_to_envelope``,
``EventLog.append``, ``IncrementalPoller.fetch``,
``MaterializedTable.apply_changes``, ``cascade_refresh`` over an hourly
and a daily continuous aggregate (the incremental path), then ``ack``.
After each cycle it makes three reads: a point lookup on
``MaterializedTable.read()``, ``query_hierarchy`` over the last day, and
a point lookup through ``state_as_of``. Every ``COMPACT_EVERY`` cycles
``compact_partition`` rewrites the newest log partition.

The aggregates bucket by the row's event time (``updated_s`` in the
payload), not by capture time, so late rows re-open closed buckets
while polling on the capture-time offset still sees every row. The
late rows reach past the previous midnight, so every cycle refreshes
both levels and the cycles are alike.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import time

import numpy as np
from pyspark.sql import functions as F
from pyspark.sql import types as T

from perfbench import gen
from perfbench.common import median, parquet_stats, tail

BATCH = 500
#: the state table starts at this many times a batch, so rewriting
#: whole buckets for a few hundred changed keys shows as amplification
STATE_FACTOR = 20
N_BUCKETS = 16
COMPACT_EVERY = 2
#: a run measures ``round(seconds / CYCLE_S)`` cycles: about the time a
#: cycle with its reads takes on 4 cores. A fixed count, not "until the
#: time is up", so every run measures the same cycles; with a time
#: limit a slower host fit fewer cycles, and only the slower early ones.
CYCLE_S = 7.0

ROW_SCHEMA = T.StructType(
    [
        T.StructField("id", T.LongType()),
        T.StructField("status", T.StringType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("updated_s", T.LongType()),
    ]
)
DATA_COLS = [f.name for f in ROW_SCHEMA.fields]
CHANGES_SCHEMA = T.StructType(
    list(ROW_SCHEMA.fields)
    + [
        T.StructField("op", T.StringType()),
        T.StructField("cap_ts", T.TimestampType()),
    ]
)
POLL_START = "2025-12-31 00:00:00"


def cagg_source(log_rows):
    """Change events with their event time and value, the source both
    aggregate levels are refreshed from."""
    row = F.coalesce(F.col("after"), F.col("before"))
    return log_rows.select(
        "operation",
        F.timestamp_seconds(
            F.get_json_object(row, "$.updated_s").cast("long")
        ).alias("event_ts"),
        F.get_json_object(row, "$.value").cast("decimal(18,3)").alias("value"),
    )


def _hour_aggs():
    return [F.count("*").alias("n"), F.sum("value").alias("value_sum")]


def _day_aggs():
    return [F.sum("n").alias("n"), F.sum("value_sum").alias("value_sum")]


def _manifest(path: str) -> dict:
    try:
        with open(os.path.join(path, "_MANIFEST.json")) as f:
            return json.load(f)
    except OSError:
        return {}


class StateSync:
    #: spans of the workload's own operations, parents of layer spans
    OPS = ("cycle", "read", "maintenance")

    def __init__(self, spark, ws, tracer, seed: int, seconds: float, smoke: bool):
        self.spark, self.ws, self.tracer = spark, ws, tracer
        self.seed, self.seconds = seed, seconds
        self.batch = 100 if smoke else BATCH

    # -- inputs ------------------------------------------------------------

    def prepare(self) -> None:
        inputs = gen.StateSyncInputs(
            self.ws.fresh("inputs"),
            self.seed,
            batch=self.batch,
            initial_rows=STATE_FACTOR * self.batch,
        )
        self.initial = inputs.initial()
        n = max(1, round(self.seconds / CYCLE_S))
        self.cycles = [inputs.cycle(c) for c in range(n)]
        self.lookup_keys = inputs.lookup_keys

    def _changes(self, path: str):
        return self.spark.read.schema(CHANGES_SCHEMA).parquet(path)

    # -- set-up ------------------------------------------------------------

    def _open(self) -> None:
        from timescale_cdc_spark.cdc.caggs import ContinuousAggregate
        from timescale_cdc_spark.cdc.incremental import IncrementalPoller
        from timescale_cdc_spark.cdc.log import EventLog
        from timescale_cdc_spark.cdc.materialize import MaterializedTable

        root = self.ws.fresh("state_sync")
        self.log = EventLog(self.spark, os.path.join(root, "log"))
        self.poller = IncrementalPoller(
            os.path.join(root, "offset.json"), start_ts=POLL_START
        )
        self.table = MaterializedTable(
            self.spark,
            os.path.join(root, "table"),
            ROW_SCHEMA,
            "id",
            n_buckets=N_BUCKETS,
        )
        self.hour = ContinuousAggregate(
            self.spark, os.path.join(root, "cagg_hour"), "1 hour", "event_ts",
            ["operation"], _hour_aggs,
        )
        self.day = ContinuousAggregate(
            self.spark, os.path.join(root, "cagg_day"), "1 day", "bucket",
            ["operation"], _day_aggs,
        )

    def setup(self) -> list[float]:
        """Build the initial state once, from empty directories: the
        initial inserts through the whole write path, then one round of
        the three reads, which pays their first-call code generation.
        Once, not several times as in ``cdc_fanout``: a second build
        costs about 10 s of every run, which the benchmark's time budget
        does not allow. Returns the build time."""
        path, lo, hi = self.initial
        t0 = time.time()
        self._open()
        self.fetched = []
        self._write_path(self._changes(path), lo, hi)
        self._reads(0)
        return [time.time() - t0]

    # -- one cycle -----------------------------------------------------------

    def _write_path(self, changes, lo: int, hi: int) -> dict:
        """One batch through the write path; ``lo`` and ``hi`` are the
        batch's earliest and latest event time (epoch seconds), which
        the client knows from what it handed in."""
        from timescale_cdc_spark.cdc.caggs import cascade_refresh
        from timescale_cdc_spark.cdc.capture import changes_to_envelope

        span, counting = self.tracer.span, self.tracer.enabled
        rec = {"in": time.time()}
        with span("cdc.capture"):
            env = changes_to_envelope(
                changes, "op", gen.SCHEMA, gen.STATE_TABLE, "cap_ts", DATA_COLS
            )
        with span("cdc.log"):
            n = self.log.append(env)
        rec["commit"] = time.time()
        prev = self.poller.offset
        with span("cdc.incremental") as sp:
            batch, offset = self.poller.fetch(self.log.read())
        if counting:
            sp["rows"] = n
        levels = (self.hour, self.day)
        if counting:
            with self.tracer.aside():
                before = _manifest(self.table.path).get("buckets", {})
                regions_before = [_manifest(c.path).get("regions", {}) for c in levels]
        with span("cdc.materialize") as sp:
            self.table.apply_changes(batch)
        if counting:
            with self.tracer.aside():
                after = _manifest(self.table.path).get("buckets", {})
                sp["buckets_touched"] = sum(
                    1 for b in set(before) | set(after) if before.get(b) != after.get(b)
                )
        with span("cdc.caggs.refresh") as sp:
            cascade_refresh(
                [self.hour, self.day],
                cagg_source(self.log.read()),
                start_s=lo,
                end_s=hi + 1,
            )
        if counting:
            with self.tracer.aside():
                sp["regions_rewritten"] = sum(
                    1
                    for c, rb in zip(levels, regions_before)
                    for d, v in _manifest(c.path).get("regions", {}).items()
                    if rb.get(d) != v
                )
        with span("cdc.incremental"):
            self.poller.ack(offset)
        rec["fresh"] = time.time()
        rec["n"] = n
        self.fetched.append((prev, offset, n))
        return rec

    def _reads(self, c: int) -> list[float]:
        from timescale_cdc_spark.cdc.caggs import query_hierarchy
        from timescale_cdc_spark.cdc.replay import state_as_of

        span = self.tracer.span
        key = self.lookup_keys[c]
        now_s = gen.T0_S + gen.HISTORY_S + (c + 1) * gen.CYCLE_SPAN_S
        day_start = now_s - now_s % 86400
        as_of = dt.datetime.fromtimestamp(
            now_s - gen.CYCLE_SPAN_S // 2, dt.timezone.utc
        ).strftime("%Y-%m-%d %H:%M:%S")
        t0 = time.time()
        with span("read", kind="point"):
            with span("cdc.materialize.read"):
                self.table.read().filter(F.col("id") == key).collect()
        t1 = time.time()
        with span("read", kind="cagg"):
            with span("cdc.caggs.query"):
                query_hierarchy(
                    [self.hour, self.day], cagg_source(self.log.read())
                ).filter(
                    F.col("bucket") >= F.timestamp_seconds(F.lit(day_start - 86400))
                ).collect()
        t2 = time.time()
        with span("read", kind="as_of"):
            with span("cdc.replay"):
                state_as_of(
                    self.log.read_table(gen.SCHEMA, gen.STATE_TABLE),
                    "id",
                    ROW_SCHEMA,
                    as_of,
                ).filter(F.col("id") == key).collect()
        return [t1 - t0, t2 - t1, time.time() - t2]

    def _compact(self, c: int) -> None:
        from timescale_cdc_spark.cdc.retention import compact_partition

        cap_s = gen.T0_S + gen.HISTORY_S + c * gen.CYCLE_SPAN_S
        day = dt.datetime.fromtimestamp(cap_s, dt.timezone.utc).date()
        with self.tracer.span("maintenance"):
            with self.tracer.span("cdc.retention"):
                compact_partition(self.log, day)

    # -- measurement -----------------------------------------------------

    def run(self) -> None:
        tr = self.tracer
        self.writes, self.reads, self.keys_changed = [], [], 0
        for c, (path, keys, lo, hi) in enumerate(self.cycles):
            changes = self._changes(path)
            with tr.span("cycle", cycle=c):
                self.writes.append(self._write_path(changes, lo, hi))
            self.keys_changed += keys
            self.reads.extend(self._reads(c))
            if (c + 1) % COMPACT_EVERY == 0:
                self._compact(c)

    # -- results -----------------------------------------------------------

    def check(self) -> tuple[int, int]:
        """The table equals ``latest_state`` over the log; both real-time
        aggregate levels equal a direct aggregate of the log; the
        fetched batches partition the appended events."""
        from timescale_cdc_spark.cdc.caggs import query_hierarchy
        from timescale_cdc_spark.cdc.replay import latest_state

        failed = 0
        table_log = self.log.read_table(gen.SCHEMA, gen.STATE_TABLE)
        want = latest_state(table_log, "id", ROW_SCHEMA)
        got = self.table.read()
        if _differ(got, want):
            failed += 1

        src = cagg_source(self.log.read())
        norm = [
            "operation",
            F.col("bucket").cast("timestamp").alias("bucket"),
            F.col("n").cast("long").alias("n"),
            F.col("value_sum").cast("decimal(38,3)").alias("value_sum"),
        ]
        for cagg, view in (
            (self.hour, self.hour.query(src)),
            (self.day, query_hierarchy([self.hour, self.day], src)),
        ):
            direct = (
                src.groupBy(
                    "operation",
                    F.timestamp_seconds(
                        F.floor(F.unix_timestamp("event_ts") / cagg.secs) * cagg.secs
                    ).alias("bucket"),
                )
                .agg(F.count("*").alias("n"), F.sum("value").alias("value_sum"))
                .select(*norm)
            )
            view = view.select(*norm)
            if _differ(view, direct):
                failed += 1

        # Each fetch is the interval (previous offset, new offset] on
        # (ts, event_id); the intervals must hold exactly what each
        # cycle appended and, together, every appended event.
        pdf = self.log.read().select("ts", "event_id").toPandas()
        pdf["ts"] = pdf["ts"].astype("datetime64[us]")
        fetched_total = 0
        for prev, new, n in self.fetched:
            lo_ts = _ts64(prev.ts)
            hi_ts = _ts64(new.ts)
            above = (pdf["ts"] > lo_ts) | (
                (pdf["ts"] == lo_ts) & (pdf["event_id"] > prev.event_id)
            )
            below = (pdf["ts"] < hi_ts) | (
                (pdf["ts"] == hi_ts) & (pdf["event_id"] <= new.event_id)
            )
            rows = int((above & below).sum())
            fetched_total += rows
            if rows != n:
                failed += 1
        last_id = self.log.last_event_id()
        if fetched_total != len(pdf) or self.poller.offset.event_id != last_id:
            failed += 1
        attempted = len(self.writes) + len(self.reads) + 3
        return attempted, failed

    def results(self) -> tuple[dict, dict, dict]:
        commit = [w["commit"] - w["in"] for w in self.writes]
        fresh = [w["fresh"] - w["in"] for w in self.writes]
        log_bytes = parquet_stats(self.log.data_path)[1]
        e2e = {
            "commit_latency_p50_s": median(commit),
            "commit_latency_tail_s": tail(commit)[0],
            "deliver_latency_p50_s": median(fresh),
            "deliver_latency_tail_s": tail(fresh)[0],
            "read_latency_p50_s": median(self.reads),
            "read_latency_tail_s": tail(self.reads)[0],
            "log_bytes_per_event": log_bytes / self.log.last_event_id(),
        }
        spans = self.tracer.spans
        inc = [s for s in spans if s["name"] == "cdc.incremental" and "rows" in s]
        mat = [
            s for s in spans
            if s["name"] == "cdc.materialize" and "buckets_touched" in s
        ]
        ref = [s for s in spans if s["name"] == "cdc.caggs.refresh"]
        layers = {}
        if self.tracer.enabled:
            layers = {
                "cdc.incremental.scan_amplification": sum(
                    s["input_records"] for s in inc
                ) / max(1, sum(s["rows"] for s in inc)),
                "cdc.materialize.write_amplification": sum(
                    s["output_records"] for s in mat
                ) / max(1, self.keys_changed),
                "cdc.materialize.buckets_touched_ratio": median(
                    [s["buckets_touched"] / self.table.n_buckets for s in mat]
                ),
                "cdc.caggs.regions_rewritten": median(
                    [s["regions_rewritten"] for s in ref]
                ),
            }
        info = {
            "batch_rows": self.batch,
            "state_rows": STATE_FACTOR * self.batch,
            "cycles": len(self.writes),
            "reads": len(self.reads),
            "compact_every": COMPACT_EVERY,
            "events": self.log.last_event_id(),
            "commit_tail_n": tail(commit)[1],
            "deliver_tail_n": tail(fresh)[1],
            "read_tail_n": tail(self.reads)[1],
        }
        return e2e, layers, info


def _differ(a, b) -> bool:
    """True unless ``a`` and ``b`` hold the same multiset of rows
    (``exceptAll`` both ways, counted in one job)."""
    return a.exceptAll(b).unionByName(b.exceptAll(a)).limit(1).count() > 0


def _ts64(s: str):
    return np.datetime64(s.replace(" ", "T"), "us")

