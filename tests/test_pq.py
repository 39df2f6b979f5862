"""PqIndex (operators/pq.py) — product-quantization ANN. Recall gate
follows test_ann_recall_vs_brute_force's pattern (both driver SFs);
plus exact semantics pins: ADC matches a numpy recomputation
bit-for-bit, codes are well-formed, identical vectors share codes and
re-rank to the top, and the candidate-scoring plan stays JVM-only
(Arrow is sanctioned in the one-off encode, never on the query path).
"""

from __future__ import annotations

import os

import numpy as np
import pytest
from pyspark.sql import functions as F

from timescale_cdc_spark.catalog import load_table
from timescale_cdc_spark.operators.pq import PqIndex
from timescale_cdc_spark.operators.similarity import brute_force_topk
from tests.test_operators import _sibling_sf_dir


@pytest.fixture(scope="module")
def pq_idx(spark, sf_dir, tmp_path_factory):
    em = load_table(spark, sf_dir, "embeddings")
    path = str(tmp_path_factory.mktemp("pq") / "idx")
    return PqIndex(spark, path).build(em, m=8, k_sub=16), em


def test_codes_well_formed(pq_idx):
    idx, em = pq_idx
    codes = idx.codes()
    assert codes.count() == em.count()
    row = codes.select(
        F.min(F.size("_code")).alias("mn_len"),
        F.max(F.size("_code")).alias("mx_len"),
        F.min(F.array_min("_code")).alias("mn"),
        F.max(F.array_max("_code")).alias("mx"),
    ).first()
    assert row["mn_len"] == row["mx_len"] == 8
    assert 0 <= row["mn"] and row["mx"] <= 15
    meta = idx.meta()
    assert (meta["m"], meta["k_sub"]) == (8, 16)


def test_adc_matches_numpy_recomputation(pq_idx):
    """The JVM lookup-sum expression must equal the straightforward
    numpy ADC on real data — guards the LUT flattening order
    (j*k_sub + cid) and the element_at 1-basing."""
    idx, em = pq_idx
    q = em.filter(F.col("vec_id") == 0)
    got = {
        r["c_id"]: r["adc_dist"]
        for r in idx.topk(q, k=5, rerank=None).collect()
    }
    cb = {
        (r["_j"], r["_cid"]): np.array(r["_centroid"])
        for r in idx.codebooks().collect()
    }
    codes = {r["c_id"]: list(r["_code"]) for r in idx.codes().collect()}
    qv = np.array(q.first()["embedding"], dtype=float)
    d_sub = len(qv) // 8
    for c_id, spark_dist in got.items():
        adc = sum(
            float(
                np.sum(
                    (qv[j * d_sub:(j + 1) * d_sub] - cb[(j, codes[c_id][j])])
                    ** 2
                )
            )
            for j in range(8)
        )
        assert spark_dist == pytest.approx(adc, abs=1e-6)


@pytest.mark.slow
def test_identical_vector_reranks_to_top(spark, pq_idx):
    """A planted exact duplicate quantizes to the identical code
    (ADC 0 against its twin's LUT entries... up to ties) and the exact
    re-rank must put it at rank 1 with cos 1.0."""
    idx, em = pq_idx
    twin = em.filter(F.col("vec_id") == 7).withColumn(
        "vec_id", F.lit(990007).cast("long")
    )
    # index must contain the twin: rebuild a small side index
    path = idx.path + "_twin"
    twin_idx = PqIndex(idx.spark, path).build(
        em.unionByName(twin), m=8, k_sub=16
    )
    out = twin_idx.topk(em.filter(F.col("vec_id") == 7), k=1, rerank=50)
    [r] = out.collect()
    assert r["c_id"] == 990007
    assert r["cos"] == 1.0


@pytest.mark.parametrize(
    "ann_sf_dir", [_sibling_sf_dir("sf0.001"), _sibling_sf_dir("sf0.01")]
)
@pytest.mark.slow
def test_pq_recall_vs_brute_force(spark, tmp_path, ann_sf_dir):
    """PQ ADC + exact re-rank clears the 0.6 recall floor at both
    driver SFs with the CHEAP config (m=8, k_sub=16, rerank=50) —
    measured 0.78 at sf0.01 on the uniform-random fixture (the
    hardest case for quantization; k_sub=256/rerank=100 reaches 1.0,
    SCALE.md)."""
    em = load_table(spark, ann_sf_dir, "embeddings")
    queries = em.filter(F.col("vec_id") < 10)
    idx = PqIndex(spark, str(tmp_path / "idx")).build(em, m=8, k_sub=16)
    exact = brute_force_topk(em, queries, k=5)
    approx = idx.topk(queries, k=5, rerank=50)
    exact_set = {(r.q_id, r.c_id) for r in exact.collect()}
    approx_set = {(r.q_id, r.c_id) for r in approx.collect()}
    recall = len(exact_set & approx_set) / len(exact_set)
    assert recall >= 0.6, f"PQ recall too low at {ann_sf_dir}: {recall}"
    # re-ranked cosines are the EXACT scores (same rounding contract
    # as the other C3 surfaces)
    exact_scores = {(r.q_id, r.c_id): r.cos for r in exact.collect()}
    for r in approx.collect():
        if (r.q_id, r.c_id) in exact_scores:
            assert exact_scores[(r.q_id, r.c_id)] == r.cos


def test_query_path_is_jvm_only(pq_idx):
    """ADC scoring + re-rank must contain no Python evaluation nodes —
    Arrow is sanctioned ONLY in the one-off corpus encode."""
    idx, em = pq_idx
    q = em.filter(F.col("vec_id") < 3)
    plan = (
        idx.topk(q, k=5, rerank=20)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan
    assert "MapInPandas" not in plan


# -- IVF-PQ (residual encoding) -----------------------------------------


@pytest.fixture(scope="module")
def ivfpq_idx(spark, sf_dir, tmp_path_factory):
    from timescale_cdc_spark.operators.pq import IvfPqIndex

    em = load_table(spark, sf_dir, "embeddings")
    path = str(tmp_path_factory.mktemp("ivfpq") / "idx")
    return (
        IvfPqIndex(spark, path).build(em, n_cells=16, m=8, k_sub=16),
        em,
    )


def test_ivfpq_codes_partitioned_and_scan_pruned(ivfpq_idx):
    """Codes live under _cell= partitions and the probed query scan
    partition-prunes — n_probe/n_cells of an already-32×-compressed
    corpus is the IVF-PQ scale story."""
    idx, em = ivfpq_idx
    assert idx.codes().count() == em.count()
    q = em.filter(F.col("vec_id") < 3)
    out = idx.topk(q, k=5, n_probe=4, rerank=20)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "_cell" in plan
    # shapes: codes carry m=8 ints; cell dirs exist on disk
    row = idx.codes().select(F.min(F.size("_code"))).first()
    assert row[0] == 8
    cells = [
        n for n in os.listdir(os.path.join(idx.path, "codes"))
        if n.startswith("_cell=")
    ]
    assert len(cells) == 16


@pytest.mark.slow
def test_ivfpq_residuals_beat_plain_pq_shortlist(spark, sf_dir, tmp_path):
    """At the SAME code budget and shortlist, residual ADC ordering
    must be at least as good as plain PQ's on the fixture (measured
    0.66 vs 0.48 at 100k clustered, SCALE.md; here: no worse)."""
    em = load_table(spark, sf_dir, "embeddings")
    queries = em.filter(F.col("vec_id") < 10)
    from timescale_cdc_spark.operators.pq import IvfPqIndex

    exact = {
        (r.q_id, r.c_id)
        for r in brute_force_topk(em, queries, k=5).collect()
    }
    ivfpq = IvfPqIndex(spark, str(tmp_path / "i")).build(
        em, n_cells=16, m=8, k_sub=16
    )
    # probe ALL cells to isolate the residual-ADC ordering from probe
    # recall (cell misses are IVF's separate, tunable error source)
    ap = {
        (r.q_id, r.c_id)
        for r in ivfpq.topk(queries, k=5, n_probe=16, rerank=50).collect()
    }
    recall = len(exact & ap) / len(exact)
    assert recall >= 0.6, f"IVF-PQ residual recall too low: {recall}"


def test_ivfpq_query_path_jvm_only(ivfpq_idx):
    idx, em = ivfpq_idx
    q = em.filter(F.col("vec_id") < 3)
    plan = (
        idx.topk(q, k=5, n_probe=4, rerank=20)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan
    assert "MapInPandas" not in plan


@pytest.mark.slow
def test_pq_families_delete_compact(spark, sf_dir, tmp_path):
    """Round 14 (VERDICT r13 #4): the takedown contract on the two PQ
    classes — delete() hides an id from the ADC shortlist AND the
    exact refine at once, deleted_fraction() is the compaction
    trigger (PQ is build-once: deletes are its only staleness), and
    compact() physically purges codes+raw (IVF-PQ's cell partitioning
    surviving, so probes keep pruning)."""
    from timescale_cdc_spark.operators.pq import IvfPqIndex

    em = load_table(spark, sf_dir, "embeddings")
    n_all = em.count()
    victim = em.orderBy("vec_id").first()
    q = spark.createDataFrame(
        [(1, victim["embedding"])],
        em.select("vec_id", "embedding").schema,
    )

    for cls, path, bkw, qkw in (
        (PqIndex, str(tmp_path / "pq_d"), {"m": 8, "k_sub": 16}, {}),
        (
            IvfPqIndex,
            str(tmp_path / "ivfpq_d"),
            {"m": 8, "k_sub": 16, "n_cells": 4},
            {"n_probe": 4},
        ),
    ):
        idx = cls(spark, path).build(em, **bkw)
        assert victim["vec_id"] in {
            r["c_id"] for r in idx.topk(q, k=3, rerank=20, **qkw).collect()
        }
        assert idx.delete([victim["vec_id"]]) == 1
        assert idx.codes().count() == n_all - 1
        got = {
            r["c_id"] for r in idx.topk(q, k=3, rerank=20, **qkw).collect()
        }
        assert victim["vec_id"] not in got
        assert abs(idx.deleted_fraction() - 1 / n_all) < 1e-9

        assert idx.compact() == n_all - 1
        assert not os.path.isdir(os.path.join(path, "tombstones"))
        for sub in ("codes", "raw"):
            bare = spark.read.parquet(os.path.join(path, sub))
            assert bare.count() == n_all - 1
            assert (
                bare.filter(F.col("c_id") == victim["vec_id"]).count() == 0
            )
        assert idx.deleted_fraction() == 0.0
        if cls is IvfPqIndex:
            cells = [
                n
                for n in os.listdir(os.path.join(path, "codes"))
                if n.startswith("_cell=")
            ]
            assert cells
            plan = (
                idx.topk(q, k=3, rerank=20, **qkw)
                ._jdf.queryExecution()
                .executedPlan()
                .toString()
            )
            assert "PartitionFilters" in plan and "_cell" in plan
        assert {
            r["c_id"] for r in idx.topk(q, k=3, rerank=20, **qkw).collect()
        } == got
