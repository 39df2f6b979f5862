"""Seeded input generators. The same seed gives the same inputs.

Inputs are written as one parquet file per change batch before any
timing starts (``gen.prepare_s``); the program only ever sees those
files, read back through ``spark.read``. Timestamps come from a
synthetic clock starting at ``T0``, so they do not depend on when the
run happens.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

T0_S = 1_767_225_600  # 2026-01-01T00:00:00Z
SCHEMA = "dataschema"

# -- cdc_fanout --------------------------------------------------------------

#: (table, share of events): a time-series table dominates, as in the
#: reference's anomaly hypertable next to its entity tables.
FANOUT_TABLES = [
    ("anomaly", 0.55),
    ("assets", 0.20),
    ("sensors", 0.15),
    ("maintenance", 0.10),
]
FANOUT_OPS = [("INSERT", 0.5), ("UPDATE", 0.4), ("DELETE", 0.1)]
FANOUT_STATUS = ["ok", "warn", "fail", "idle"]

ENVELOPE_ARROW = pa.schema(
    [
        ("ts", pa.timestamp("us", tz="UTC")),
        ("schema_name", pa.string()),
        ("table_name", pa.string()),
        ("operation", pa.string()),
        ("before", pa.string()),
        ("after", pa.string()),
    ]
)


def fanout_sizes(n_batches: int, batch: int, big_every: int, big_factor: int):
    """Events per batch: every ``big_every``-th batch is ``big_factor``
    times larger (a bulk-UPDATE transaction)."""
    return [
        batch * big_factor if (i + 1) % big_every == 0 else batch
        for i in range(n_batches)
    ]


def write_fanout_batches(
    out_dir: str, seed: int, sizes: list[int], period_s: float
) -> list[str]:
    """One envelope file per batch; batch ``i`` carries capture times in
    ``[T0 + i*period, T0 + (i+1)*period)``."""
    rng = np.random.default_rng(seed)
    names = [t for t, _ in FANOUT_TABLES]
    tshare = [w for _, w in FANOUT_TABLES]
    ops = [o for o, _ in FANOUT_OPS]
    oshare = [w for _, w in FANOUT_OPS]
    paths = []
    for i, n in enumerate(sizes):
        t_lo_us = int((T0_S + i * period_s) * 1e6)
        step = max(1, int(period_s * 1e6) // n)
        ts = t_lo_us + np.arange(n, dtype=np.int64) * step
        tab = rng.choice(len(names), size=n, p=tshare)
        op = rng.choice(len(ops), size=n, p=oshare)
        ids = rng.integers(1, 50_000, size=n).tolist()
        vals = np.round(rng.normal(50.0, 15.0, size=n), 3).tolist()
        status = rng.integers(0, len(FANOUT_STATUS), size=n).tolist()
        secs = (ts // 1_000_000).tolist()
        before, after = [], []
        for j, o in enumerate(op.tolist()):
            row = (
                f'{{"id":{ids[j]},"status":"{FANOUT_STATUS[status[j]]}",'
                f'"value":{vals[j]},"updated_s":{secs[j]}}}'
            )
            before.append(None if ops[o] == "INSERT" else row)
            after.append(None if ops[o] == "DELETE" else row)
        table = pa.table(
            {
                "ts": pa.array(ts, pa.timestamp("us", tz="UTC")),
                "schema_name": [SCHEMA] * n,
                "table_name": [names[k] for k in tab],
                "operation": [ops[k] for k in op],
                "before": before,
                "after": after,
            },
            schema=ENVELOPE_ARROW,
        )
        path = os.path.join(out_dir, f"batch_{i:05d}.parquet")
        pq.write_table(table, path)
        paths.append(path)
    return paths


# -- cdc_state_sync ------------------------------------------------------------

STATE_TABLE = "assets"
STATE_STATUS = ["ok", "warn", "fail", "idle", "service"]
CHANGES_ARROW = pa.schema(
    [
        ("id", pa.int64()),
        ("status", pa.string()),
        ("value", pa.float64()),
        ("updated_s", pa.int64()),
        ("op", pa.string()),
        ("cap_ts", pa.timestamp("us", tz="UTC")),
    ]
)
#: every cycle advances the synthetic capture clock by one hour
CYCLE_SPAN_S = 3600
#: the initial state is inserted over this much history before cycle 0
HISTORY_S = 2 * 86400
STATE_OPS = [("UPDATE", 0.8), ("INSERT", 0.1), ("DELETE", 0.1)]
#: share of rows whose event time lags their capture time, by 1 to
#: ``LATE_MAX_S``. The lag reaches past the previous midnight, so every
#: cycle re-opens a closed day and refreshes both aggregate levels.
LATE_SHARE = 0.03
LATE_MAX_S = 30 * 3600
ZIPF_A = 1.3


class StateSyncInputs:
    """Change batches for one table with Zipf-skewed keys.

    The generator keeps the live key set, so UPDATE and DELETE only hit
    live keys and INSERT adds new ones. ``LATE_SHARE`` of each batch's
    rows carry an event time (``updated_s``) 1 to 30 hours older than
    their capture time, which makes the cascade re-refresh closed
    buckets of both levels.
    Capture times (``cap_ts``) increase strictly, so polling on
    (ts, event_id) sees every row.
    """

    def __init__(self, out_dir: str, seed: int, batch: int, initial_rows: int):
        self.out_dir = out_dir
        self.rng = np.random.default_rng(seed)
        self.batch = batch
        self.ops = [o for o, _ in STATE_OPS]
        self.oshare = [w for _, w in STATE_OPS]
        self.live: list[int] = []
        self.next_id = 1
        self.initial_rows = initial_rows
        self.lookup_keys: list[int] = []

    def _write(self, name: str, cols: dict) -> str:
        path = os.path.join(self.out_dir, f"{name}.parquet")
        pq.write_table(pa.table(cols, schema=CHANGES_ARROW), path)
        return path

    def initial(self) -> tuple[str, int, int]:
        """INSERTs of ``initial_rows`` keys spread over ``HISTORY_S``:
        (path, earliest and latest event time in epoch seconds)."""
        n = self.initial_rows
        ids = np.arange(self.next_id, self.next_id + n, dtype=np.int64)
        self.next_id += n
        self.live = ids.tolist()
        cap_us = T0_S * 1_000_000 + np.arange(n, dtype=np.int64) * (
            HISTORY_S * 1_000_000 // n
        )
        event_s = cap_us // 1_000_000
        path = self._write(
            "initial",
            {
                "id": ids,
                "status": [
                    STATE_STATUS[k]
                    for k in self.rng.integers(0, len(STATE_STATUS), size=n)
                ],
                "value": np.round(self.rng.normal(100.0, 30.0, size=n), 3),
                "updated_s": event_s,
                "op": ["INSERT"] * n,
                "cap_ts": pa.array(cap_us, pa.timestamp("us", tz="UTC")),
            },
        )
        return path, int(event_s.min()), int(event_s.max())

    def _pick_live(self) -> int:
        z = int(self.rng.zipf(ZIPF_A))
        return (z - 1) % len(self.live)

    def cycle(self, c: int) -> tuple[str, int, int, int]:
        """Batch of cycle ``c``: (path, distinct keys changed, earliest
        and latest event time in epoch seconds)."""
        n = self.batch
        base_us = (T0_S + HISTORY_S + c * CYCLE_SPAN_S) * 1_000_000
        cap_us = base_us + np.arange(n, dtype=np.int64) * (
            CYCLE_SPAN_S * 1_000_000 // n
        )
        ops = self.rng.choice(len(self.ops), size=n, p=self.oshare)
        late = self.rng.random(n) < LATE_SHARE
        late_s = self.rng.integers(3600, LATE_MAX_S + 1, size=n)
        status = self.rng.integers(0, len(STATE_STATUS), size=n)
        vals = np.round(self.rng.normal(100.0, 30.0, size=n), 3)
        ids, op_names = [], []
        for j in range(n):
            op = self.ops[ops[j]]
            if op == "INSERT" or len(self.live) < 2:
                op = "INSERT"
                key = self.next_id
                self.next_id += 1
                self.live.append(key)
            else:
                i = self._pick_live()
                key = self.live[i]
                if op == "DELETE":
                    self.live[i] = self.live[-1]
                    self.live.pop()
            ids.append(key)
            op_names.append(op)
        event_s = cap_us // 1_000_000 - np.where(late, late_s, 0)
        self.lookup_keys.append(self.live[self._pick_live()])
        path = self._write(
            f"cycle_{c:05d}",
            {
                "id": np.array(ids, dtype=np.int64),
                "status": [STATE_STATUS[k] for k in status],
                "value": vals,
                "updated_s": event_s,
                "op": op_names,
                "cap_ts": pa.array(cap_us, pa.timestamp("us", tz="UTC")),
            },
        )
        return path, len(set(ids)), int(event_s.min()), int(event_s.max())

