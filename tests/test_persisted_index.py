"""The shared persisted-index lifecycle (operators/persisted_index.py)
on all six index classes, on a tiny in-memory corpus so it stays in
the fast tier: a delete is visible at once, and compact() heals a
crash left between swap_rewrite's two renames before it purges."""

from __future__ import annotations

import os
import shutil

import numpy as np
import pytest
from pyspark.sql import functions as F

from timescale_cdc_spark.durable import SWAP_OLD, SWAP_TMP
from timescale_cdc_spark.operators.ann_index import IvfIndex, LshIndex
from timescale_cdc_spark.operators.pq import IvfPqIndex, PqIndex
from timescale_cdc_spark.operators.sq8 import IvfSq8Index, Sq8Index

N, DIM = 200, 8

# class, build kwargs, topk kwargs, stored rows per id
CASES = {
    "IvfIndex": (IvfIndex, {"n_clusters": 2}, {"n_probe": 2}, 1),
    "LshIndex": (
        LshIndex, {"num_planes": 16, "chunks": 4, "dim": DIM}, {}, 4,
    ),
    "PqIndex": (PqIndex, {"m": 2, "k_sub": 4}, {"rerank": 20}, 1),
    "IvfPqIndex": (
        IvfPqIndex, {"n_cells": 2, "m": 2, "k_sub": 4},
        {"n_probe": 2, "rerank": 20}, 1,
    ),
    "Sq8Index": (Sq8Index, {}, {"rerank": 20}, 1),
    "IvfSq8Index": (
        IvfSq8Index, {"n_cells": 2}, {"n_probe": 2, "rerank": 20}, 1,
    ),
}


@pytest.fixture(scope="module")
def tiny(spark):
    rng = np.random.default_rng(7)
    vecs = rng.standard_normal((N, DIM))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    return spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(vecs)],
        "vec_id long, embedding array<float>",
    )


def _topk(idx, q, kw):
    return {(r.q_id, r.c_id, r.rank, r.cos)
            for r in idx.topk(q, k=3, **kw).collect()}


@pytest.mark.parametrize("name", list(CASES))
def test_delete_then_compact_heals_crash_mid_swap(spark, tiny, tmp_path, name):
    cls, build_kw, topk_kw, per_id = CASES[name]
    path = str(tmp_path / name)
    idx = cls(spark, path).build(tiny, **build_kw)
    q = tiny.filter(F.col("vec_id") < 5)
    before = _topk(idx, q, topk_kw)
    victims = sorted({p[1] for p in before} - set(range(5)))[:3]
    assert len(victims) == 3

    # a delete is visible at once in every live read (each data dir
    # has a public reader of its own name) and in topk
    assert idx.delete(victims) == 3
    for d in cls.DATA_DIRS:
        live = getattr(idx, d)()
        assert live.count() == (N - 3) * per_id
        assert live.filter(F.col("c_id").isin(victims)).count() == 0
    assert idx.live_ids().count() == N - 3
    assert abs(idx.deleted_fraction() - 3 / N) < 1e-9
    during = _topk(idx, q, topk_kw)
    assert not {p for p in during if p[1] in victims}

    # crash between swap_rewrite's two renames on every data dir: the
    # live dir is gone, its only copy sits in the SWAP_OLD dir next to
    # a half-written SWAP_TMP dir
    data_dirs = [os.path.join(path, d) for d in cls.DATA_DIRS]
    for d in data_dirs:
        os.rename(d, d + SWAP_OLD)
        shutil.copytree(d + SWAP_OLD, d + SWAP_TMP)

    assert idx.compact() == (N - 3) * per_id
    for d in data_dirs:
        assert not os.path.exists(d + SWAP_OLD)
        assert not os.path.exists(d + SWAP_TMP)
        bare = spark.read.parquet(d)
        assert bare.count() == (N - 3) * per_id
        assert bare.filter(F.col("c_id").isin(victims)).count() == 0
    assert not os.path.exists(os.path.join(path, "tombstones"))
    assert idx.deleted_fraction() == 0.0
    assert _topk(idx, q, topk_kw) == during
