"""``cdc_fanout``: open-loop producer commits with a long-running
stream routing the log to per-table topics.

One client hands ``EventLog.append`` one change batch per period,
scheduled by due time; every 10th batch is 5x larger (a bulk-UPDATE
transaction). A ``CdcStreamPipeline`` started with a short trigger
delivers the events to ``cdc-<table>`` sinks while the producer runs.
After each batch, if the next one is not due yet, a consumer reads the
newest events of one topic (``read_topic``), rotating over the tables.

Every latency is timed from the batch's due time, so a stall is charged
to the batches queued behind it. Delivery time is the completion of the
micro-batch that delivered the batch's last event, from the stream's
progress (``timestamp + durationMs.triggerExecution``).
"""

from __future__ import annotations

import datetime as dt
import math
import os
import shutil
import time

from pyspark.sql import functions as F
from pyspark.sql import types as T

from perfbench import gen
from perfbench.common import median, parquet_stats, sleep_until, tail

#: Producer schedule and stream trigger. An append of a normal batch
#: takes about 0.6 s and a micro-batch about 1 s on 4 cores, so this
#: period keeps both near half their capacity and the backlog flat even
#: when the host runs markedly slower for a while.
PERIOD_S = 2.0
BATCH = 2000
BIG_EVERY = 10
BIG_FACTOR = 5
TRIGGER_S = 0.5
#: a consumer read follows a batch when at least this long remains
#: before the next one is due
READ_SLACK_S = 0.4
SETUP_REPS = 2
DRAIN_TIMEOUT_S = 60.0

TABLES = [(gen.SCHEMA, t) for t, _ in gen.FANOUT_TABLES]
INPUT_SCHEMA = T.StructType(
    [
        T.StructField("ts", T.TimestampType()),
        T.StructField("schema_name", T.StringType()),
        T.StructField("table_name", T.StringType()),
        T.StructField("operation", T.StringType()),
        T.StructField("before", T.StringType()),
        T.StructField("after", T.StringType()),
    ]
)


def _delivered_rows(query) -> int:
    return sum(p["numInputRows"] for p in query.recentProgress)


def _wait_delivered(query, total: int, timeout_s: float) -> bool:
    deadline = time.time() + timeout_s
    while time.time() < deadline:
        if query.exception() is not None:
            raise RuntimeError(f"stream failed: {query.exception()}")
        if _delivered_rows(query) >= total:
            return True
        time.sleep(0.05)
    return False


def _micro_batches(query) -> list[dict]:
    out = []
    for p in query.recentProgress:
        if p["numInputRows"] == 0:
            continue
        start = dt.datetime.fromisoformat(p["timestamp"].replace("Z", "+00:00"))
        d = p["durationMs"]
        t0 = start.timestamp()
        out.append(
            {
                "batch_id": p["batchId"],
                "start": t0,
                "end": t0 + d["triggerExecution"] / 1000.0,
                "rows": p["numInputRows"],
                "trigger_s": d["triggerExecution"] / 1000.0,
                "latest_offset_s": d.get("latestOffset", 0) / 1000.0,
                "add_batch_s": d.get("addBatch", 0) / 1000.0,
                "query_planning_s": d.get("queryPlanning", 0) / 1000.0,
                "wal_commit_s": d.get("walCommit", 0) / 1000.0,
            }
        )
    return out


class Fanout:
    #: spans of the workload's own operations, parents of layer spans
    OPS = ("batch", "read")

    def __init__(self, spark, ws, tracer, seed: int, seconds: float, smoke: bool):
        self.spark, self.ws, self.tracer = spark, ws, tracer
        self.seed, self.seconds = seed, seconds
        self.batch = 200 if smoke else BATCH
        self.setup_reps = 1 if smoke else SETUP_REPS

    # -- inputs ------------------------------------------------------------

    def prepare(self) -> None:
        n = max(1, math.ceil(self.seconds / PERIOD_S))
        sizes = gen.fanout_sizes(n, self.batch, BIG_EVERY, BIG_FACTOR)
        warm = [self.batch] * self.setup_reps
        paths = gen.write_fanout_batches(
            self.ws.fresh("inputs"), self.seed, warm + sizes, PERIOD_S
        )
        frames = [
            self.spark.read.schema(INPUT_SCHEMA).parquet(p) for p in paths
        ]
        self.warm_frames = frames[: len(warm)]
        self.frames = frames[len(warm):]

    # -- set-up ------------------------------------------------------------

    def _open(self, rep: int):
        from timescale_cdc_spark.cdc.log import EventLog
        from timescale_cdc_spark.streaming.pipeline import CdcStreamPipeline

        root = self.ws.fresh("fanout", f"rep{rep}")
        log = EventLog(self.spark, os.path.join(root, "log"))
        pipe = CdcStreamPipeline(
            self.spark,
            log,
            os.path.join(root, "topics"),
            TABLES,
            checkpoint_dir=os.path.join(root, "checkpoint"),
        )
        return root, log, pipe

    def setup(self) -> list[float]:
        """Build the stream ``setup_reps`` times from empty directories:
        commit one warm-up batch, start the stream, wait for the batch's
        delivery and read one topic. The last build stays up for the
        measurement."""
        times = []
        for rep in range(self.setup_reps):
            t0 = time.time()
            root, log, pipe = self._open(rep)
            # the file source needs the log's data directory to exist
            n = log.append(self.warm_frames[rep])
            query = pipe.start(trigger_seconds=TRIGGER_S)
            if not _wait_delivered(query, n, DRAIN_TIMEOUT_S):
                raise RuntimeError("warm-up batch was not delivered")
            pipe.read_topic(TABLES[0][1]).count()
            times.append(time.time() - t0)
            if rep < self.setup_reps - 1:
                query.stop()
                shutil.rmtree(root, ignore_errors=True)
        self.log, self.pipe, self.query = log, pipe, query
        self.warm_events = n
        return times

    # -- measurement -----------------------------------------------------

    def run(self) -> None:
        tr = self.tracer
        self.appends, self.reads = [], []
        self.files_written = 0
        t_start = time.time()
        n = len(self.frames)
        for i, frame in enumerate(self.frames):
            due = t_start + i * PERIOD_S
            sleep_until(due)
            start = time.time()
            lo = self.log.last_event_id()
            with tr.span("batch", batch=i):
                if tr.enabled:
                    with tr.aside():
                        files_before = parquet_stats(self.log.data_path)[0]
                with tr.span("cdc.log"):
                    k = self.log.append(frame)
                if tr.enabled:
                    with tr.aside():
                        self.files_written += (
                            parquet_stats(self.log.data_path)[0] - files_before
                        )
            end = time.time()
            self.appends.append(
                {"due": due, "start": start, "end": end, "lo": lo, "n": k}
            )
            next_due = t_start + (i + 1) * PERIOD_S
            if i + 1 < n and next_due - time.time() > READ_SLACK_S:
                self._read(i)
        if not self.reads:  # a run too short or too busy for any slack
            self._read(n - 1)
        self._drain()

    def _read(self, i: int) -> None:
        """A consumer reads the events of the last few batches from one
        table's topic."""
        table = TABLES[i % len(TABLES)][1]
        since = self.appends[max(0, i - 3)]["lo"]
        t0 = time.time()
        with self.tracer.span("read", table=table):
            with self.tracer.span("streaming.pipeline.read_topic"):
                self.pipe.read_topic(table).filter(
                    F.col("event_id") > F.lit(since)
                ).count()
        self.reads.append(time.time() - t0)

    def _drain(self) -> None:
        """Wait until the stream has delivered every appended event."""
        total = self.warm_events + sum(a["n"] for a in self.appends)
        self.drained = _wait_delivered(self.query, total, DRAIN_TIMEOUT_S)
        self.batches = _micro_batches(self.query)
        self.query.stop()
        # micro-batches of the measured loop; earlier ones belong to set-up
        self.measured = [
            b for b in self.batches if b["start"] >= self.appends[0]["due"]
        ]
        for b in self.measured:
            self.tracer.add(
                {
                    "name": "streaming.pipeline",
                    "parent": None,
                    "start": b["start"],
                    "end": b["end"],
                    "micro_batch": b["batch_id"],
                    "rows": b["rows"],
                }
            )

    # -- results -----------------------------------------------------------

    def check(self) -> tuple[int, int]:
        """Every appended event_id arrives exactly once, in its own
        table's topic. Also maps each measured batch to the micro-batch
        that delivered its last event. Returns (ops attempted, failed):
        an op is one append, one delivered batch or one read."""
        frames = [
            self.spark.read.parquet(self.pipe.topic_path(table)).select(
                "event_id",
                "table_name",
                F.col("_batch_id").cast("long").alias("mb"),
                F.lit(table).alias("topic"),
            )
            for _schema, table in TABLES
            if os.path.isdir(self.pipe.topic_path(table))
        ]
        got = frames[0]
        for f in frames[1:]:
            got = got.unionByName(f)
        pdf = got.toPandas()
        bad_ids = set(
            pdf.loc[
                (pdf["table_name"] != pdf["topic"])
                | pdf["event_id"].duplicated(keep=False),
                "event_id",
            ]
        )
        mb_of = dict(zip(pdf["event_id"].tolist(), pdf["mb"].tolist()))
        mb_ids = {b["batch_id"] for b in self.batches}
        self.delivered_by = {}
        failed = 0 if self.drained else 1
        for i, a in enumerate(self.appends):
            ids = range(a["lo"] + 1, a["lo"] + a["n"] + 1)
            mb = max((mb_of.get(e, -1) for e in ids), default=-1)
            if any(e not in mb_of or e in bad_ids for e in ids) or mb not in mb_ids:
                failed += 1
            else:
                self.delivered_by[i] = mb
        total = self.log.last_event_id()
        if len(mb_of) != total or set(mb_of) != set(range(1, total + 1)):
            failed += 1
        return 2 * len(self.appends) + len(self.reads), failed

    def results(self) -> tuple[dict, dict, dict]:
        """(end-to-end values, per-layer values, info)."""
        mb = {b["batch_id"]: b for b in self.batches}
        commit = [a["end"] - a["due"] for a in self.appends]
        deliver, wait = [], []
        for i, a in enumerate(self.appends):
            if i in self.delivered_by:
                b = mb[self.delivered_by[i]]
                deliver.append(b["end"] - a["due"])
                wait.append(b["start"] - a["end"])
        files_total, log_bytes = parquet_stats(self.log.data_path)
        events = self.log.last_event_id()
        e2e = {
            "commit_latency_p50_s": median(commit),
            "commit_latency_tail_s": tail(commit)[0],
            "deliver_latency_p50_s": median(deliver),
            "deliver_latency_tail_s": tail(deliver)[0],
            "read_latency_p50_s": median(self.reads),
            "read_latency_tail_s": tail(self.reads)[0],
            "log_bytes_per_event": log_bytes / events,
        }
        measured = self.measured
        backlog = 0
        for a in self.appends:
            appended = self.warm_events + sum(
                x["n"] for x in self.appends if x["end"] <= a["end"]
            )
            done = self.warm_events + sum(
                b["rows"] for b in measured if b["end"] <= a["end"]
            )
            backlog = max(backlog, appended - done)
        lag = [a["start"] - a["due"] for a in self.appends]
        layers = {
            "cdc.log.files_written": self.files_written,
            "cdc.log.files_total": files_total,
            "streaming.pipeline.batches": len(measured),
            "streaming.pipeline.trigger_p50_s": median(
                [b["trigger_s"] for b in measured]
            ),
            "streaming.pipeline.latest_offset_s": sum(
                b["latest_offset_s"] for b in measured
            ),
            "streaming.pipeline.add_batch_s": sum(b["add_batch_s"] for b in measured),
            "streaming.pipeline.query_planning_s": sum(
                b["query_planning_s"] for b in measured
            ),
            "streaming.pipeline.wal_commit_s": sum(
                b["wal_commit_s"] for b in measured
            ),
            "streaming.pipeline.wait_p50_s": median(wait),
            "streaming.pipeline.backlog_max_events": backlog,
            "gen.lag_tail_s": tail(lag)[0],
        }
        info = {
            "period_s": PERIOD_S,
            "batch_events": self.batch,
            "big_every": BIG_EVERY,
            "big_factor": BIG_FACTOR,
            "trigger_s": TRIGGER_S,
            "batches": len(self.appends),
            "reads": len(self.reads),
            "events": events,
            "commit_tail_n": tail(commit)[1],
            "deliver_tail_n": tail(deliver)[1],
            "read_tail_n": tail(self.reads)[1],
        }
        return e2e, layers, info
