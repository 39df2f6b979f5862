#!/usr/bin/env python3
"""SQ8-index append/staleness soak (round 12, VERDICT r11 #4): the
build-once indexes Sq8Index and IvfSq8Index now absorb inserts with
FROZEN bounds/centroids (the ann_index.IvfIndex contract) — this soak
measures the recall-vs-staleness curve that makes the rebuild trigger
an evidence-based knob rather than a guess:

stage 0  build on 300k clustered vectors        (staleness ~0)
stage 1  append 100k IN-DISTRIBUTION vectors    (appended_fraction
         0.25 — same clusters, residuals/coords inside the frozen
         grids; recall should hold)
stage 2  append 50k DRIFTED vectors (basis-spike unit vectors far
         from every cluster: raw coordinates beyond the frozen SQ8
         bounds, residuals beyond the frozen residual grid) —
         clamp_fraction / qerr_ratio must fire and flip
         rebuild_recommended

After every stage, recall@5 is scored against the exact matmul
baseline over the CURRENT corpus for two query sets: build-resident
queries and appended queries (an appended vector must be findable
immediately — the CDC-fed-index property the append exists for).

Usage: python soak_index_append.py [n_build] [n_append] [n_drift]
"""

from __future__ import annotations

import json
import sys
import tempfile
import time

from pyspark.sql import functions as F

from soak_ann import DIM, synth_clustered_vecs
from timescale_cdc_spark.operators.similarity import brute_force_topk_matmul
from timescale_cdc_spark.operators.sq8 import IvfSq8Index, Sq8Index
from timescale_cdc_spark.session import get_spark


def _recall(idx, queries, corpus, topk_kwargs) -> float:
    exact = {
        (r.q_id, r.c_id)
        for r in brute_force_topk_matmul(corpus, queries, k=5).collect()
    }
    approx = {
        (r.q_id, r.c_id)
        for r in idx.topk(queries, k=5, **topk_kwargs).collect()
    }
    return len(exact & approx) / len(exact) if exact else 0.0


def synth_drift_vecs(spark, n: int, id_off: int):
    """Basis-spike unit vectors: coordinate id%DIM is ~1, the rest ~0
    — far outside the clustered corpus' per-dimension coordinate
    ranges AND far from every coarse centroid, the drift an append
    must surface via clamp_fraction / qerr_ratio."""
    spike = F.pmod(F.col("id"), F.lit(DIM)).cast("int")
    emb = F.transform(
        F.sequence(F.lit(0), F.lit(DIM - 1)),
        lambda d: F.when(d == spike, F.lit(1.0)).otherwise(F.lit(0.0)),
    )
    return spark.range(n).select(
        (F.col("id") + id_off).alias("vec_id"),
        F.transform(emb, lambda x: x.cast("float")).alias("embedding"),
    )


def main() -> None:
    n_build = int(sys.argv[1]) if len(sys.argv) > 1 else 300_000
    n_append = int(sys.argv[2]) if len(sys.argv) > 2 else 100_000
    n_drift = int(sys.argv[3]) if len(sys.argv) > 3 else 50_000
    spark = get_spark(app_name="soak_index_append")

    # one clustered pool split into build + in-distribution append
    # (same synthesis → same cluster structure on both sides)
    pool = synth_clustered_vecs(
        spark, n_build + n_append, n_clusters=4_000
    ).persist()
    pool.count()
    build = pool.filter(F.col("vec_id") < n_build)
    append = pool.filter(F.col("vec_id") >= n_build)
    drift = synth_drift_vecs(spark, n_drift, n_build + n_append).persist()
    drift.count()

    q_build = pool.filter(F.col("vec_id") < 8)
    q_app = pool.filter(
        (F.col("vec_id") >= n_build) & (F.col("vec_id") < n_build + 8)
    )

    report: dict = {"n_build": n_build, "n_append": n_append,
                    "n_drift": n_drift, "stages": {}}
    with tempfile.TemporaryDirectory() as d:
        indexes = {
            "sq8": (Sq8Index(spark, f"{d}/sq8"), {"rerank": 200}, {}),
            "ivf_sq8": (
                IvfSq8Index(spark, f"{d}/ivfsq8"),
                {"n_probe": 8, "rerank": 200},
                {"n_cells": 256,
                 "sample_fraction": min(1.0, 50_000 / n_build)},
            ),
        }
        for name, (idx, qkw, bkw) in indexes.items():
            t0 = time.time()
            idx.build(build, **bkw)
            t_build = time.time() - t0
            stages = {}
            s = idx.staleness()
            stages["0_built"] = {
                "recall_build_q": _recall(idx, q_build, build, qkw),
                "appended_fraction": round(s["appended_fraction"], 4),
                "rebuild_recommended": s["rebuild_recommended"],
            }

            t0 = time.time()
            idx.append(append)
            t_append = time.time() - t0
            s = idx.staleness()
            stages["1_in_dist_append"] = {
                "recall_build_q": _recall(idx, q_build, pool, qkw),
                "recall_appended_q": _recall(idx, q_app, pool, qkw),
                "appended_fraction": round(s["appended_fraction"], 4),
                "drift_signal": round(
                    s.get("clamp_fraction", s.get("qerr_ratio", 0.0)), 4
                ),
                "rebuild_recommended": s["rebuild_recommended"],
            }

            idx.append(drift)
            s = idx.staleness()
            full = pool.unionByName(drift)
            stages["2_drift_append"] = {
                "recall_build_q": _recall(idx, q_build, full, qkw),
                "recall_appended_q": _recall(idx, q_app, full, qkw),
                "appended_fraction": round(s["appended_fraction"], 4),
                "drift_signal": round(
                    s.get("clamp_fraction", s.get("qerr_ratio", 0.0)), 4
                ),
                "rebuild_recommended": s["rebuild_recommended"],
            }
            # stage 3 (round 14, VERDICT r13 #4): TAKEDOWN of the
            # drifted batch — delete() must hide every drifted id
            # immediately, deleted_fraction (50k/450k ≈ 11%) must flip
            # compact_recommended, and compact() must purge physically
            # while returning the index to its stage-1 state (the
            # drift's clamp/qerr signal leaves WITH its rows).
            t0 = time.time()
            n_del = idx.delete(drift.select("vec_id"))
            t_delete = time.time() - t0
            assert n_del == n_drift, (name, n_del)
            s = idx.staleness()
            r3_build = _recall(idx, q_build, pool, qkw)
            r3_app = _recall(idx, q_app, pool, qkw)
            deleted_seen = {
                r.c_id
                for r in idx.topk(
                    q_build.unionByName(q_app), k=5, **qkw
                ).collect()
                if r.c_id >= n_build + n_append
            }
            stages["3_takedown"] = {
                "recall_build_q": r3_build,
                "recall_appended_q": r3_app,
                "deleted_fraction": round(s["deleted_fraction"], 4),
                "compact_recommended": s["compact_recommended"],
                "rebuild_recommended": s["rebuild_recommended"],
                "deleted_ids_in_topk": len(deleted_seen),
            }

            t0 = time.time()
            n_live = idx.compact()
            t_compact = time.time() - t0
            s = idx.staleness()
            stages["4_compacted"] = {
                "live_rows": n_live,
                "recall_build_q": _recall(idx, q_build, pool, qkw),
                "recall_appended_q": _recall(idx, q_app, pool, qkw),
                "deleted_fraction": round(s["deleted_fraction"], 4),
                "compact_recommended": s["compact_recommended"],
                "rebuild_recommended": s["rebuild_recommended"],
            }
            report["stages"][name] = {
                "build_sec": round(t_build, 2),
                "append_sec": round(t_append, 2),
                "delete_sec": round(t_delete, 2),
                "compact_sec": round(t_compact, 2),
                **stages,
            }

    print(json.dumps(report))
    for name, st in report["stages"].items():
        # an appended vector is findable immediately
        assert st["1_in_dist_append"]["recall_appended_q"] >= 0.8, (
            name, st)
        # a fresh build must not carry the flag…
        assert not st["0_built"]["rebuild_recommended"], (name, st)
        # …in-distribution appends at 25% must not flip the trigger
        # (appended_fraction lands exactly ON the strict-> 0.25 bound;
        # the drift signal is ~0 for in-distribution data — this is
        # the stage the soak exists to evidence, previously asserted
        # against stage 0 where it was vacuous)…
        assert not st["1_in_dist_append"]["rebuild_recommended"], (name, st)
        # …and the drift stage MUST flip it (clamp/qerr or volume)
        assert st["2_drift_append"]["rebuild_recommended"], (name, st)
        # takedown (round 14): no deleted id survives in any topk,
        # the >10% dead share recommends compaction, and recall over
        # the LIVE corpus holds through delete AND compact
        t3, t4 = st["3_takedown"], st["4_compacted"]
        assert t3["deleted_ids_in_topk"] == 0, (name, st)
        assert t3["compact_recommended"], (name, st)
        assert t3["recall_appended_q"] >= 0.8, (name, st)
        assert t4["deleted_fraction"] == 0.0, (name, st)
        assert not t4["compact_recommended"], (name, st)
        assert t4["recall_appended_q"] >= 0.8, (name, st)
        # purging the drift removes its staleness signal with it:
        # the index is back to its (unflagged) stage-1 state
        assert not t4["rebuild_recommended"], (name, st)


if __name__ == "__main__":
    main()
