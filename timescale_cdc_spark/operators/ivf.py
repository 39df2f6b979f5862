"""The IVF coarse partitioner, shared by ``similarity.ivf_topk`` and
the persisted ``IvfIndex``, ``IvfPqIndex`` and ``IvfSq8Index``: a
seeded KMeans quantizer routes every vector to a cell, and a query
probes its ``n_probe`` nearest cells.

The centroids live in a small BROADCAST frame ``(_cell int,
_centroid array<double>)``, and probing is a broadcast cross join plus
a rank window, so plan size stays O(1) in cell count (an
unrolled-literal formulation grows the plan O(cells·dim) and falls
over around 4096 cells). Frames here use the ``c_id``/``c_vec``
corpus and ``q_id``/``q_vec`` query column names.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def l2_sq(vec: str) -> Column:
    """Squared L2 distance between a vector column and the
    ``_centroid`` column it is joined with."""
    return F.aggregate(
        F.zip_with(
            F.col(vec),
            F.col("_centroid"),
            lambda a, b: (a.cast("double") - b) * (a.cast("double") - b),
        ),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def residual(vec: str) -> Column:
    """``vec − _centroid`` as ``array<double>``."""
    return F.zip_with(
        F.col(vec), F.col("_centroid"), lambda a, b: a.cast("double") - b
    )


def fit_cells(
    vecs: DataFrame,
    n_cells: int,
    seed: int,
    sample_fraction: float | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Fit the coarse quantizer on ``(c_id, c_vec)`` rows.
    ``sample_fraction`` fits on a seeded sample (the quantizer needs
    cluster SHAPES, not every point); assignment still covers every
    row. Returns ``(assigned, centroids)``: the rows with their
    ``_cell`` (the fitted model's own assignment) and the centroid
    frame."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    fv = vecs.withColumn(
        "_fv", array_to_vector(F.col("c_vec").cast("array<double>"))
    )
    fit_input = (
        fv.sample(fraction=sample_fraction, seed=seed)
        if sample_fraction
        else fv
    )
    model = KMeans(
        k=n_cells, seed=seed, featuresCol="_fv", predictionCol="_cell"
    ).fit(fit_input)
    cent = vecs.sparkSession.createDataFrame(
        [
            (ci, [float(x) for x in np.asarray(c)])
            for ci, c in enumerate(model.clusterCenters())
        ],
        schema="_cell int, _centroid array<double>",
    )
    assigned = model.transform(fv).select("c_id", "c_vec", "_cell")
    return assigned, cent


def assign_cells(vecs: DataFrame, cent: DataFrame) -> DataFrame:
    """Route ``(c_id, c_vec)`` rows to their nearest FROZEN centroid —
    the rule the fitted model applies at build time; ties go to the
    lowest cell. The argmin is a PARTIAL aggregation, not a window:
    the scored cross join is rows × cells, each carrying the full
    vector, and a window would shuffle and sort all of them (156 s
    for a 100k batch at 256 cells), while ``min(struct(_dist,
    _cell))`` combines each id to one tiny row map-side before the
    exchange. Returns ``(c_id, c_vec, _cell)``."""
    best = (
        vecs.crossJoin(F.broadcast(cent))
        .withColumn("_dist", l2_sq("c_vec"))
        .groupBy("c_id")
        .agg(F.min(F.struct("_dist", "_cell")).alias("_b"))
        .select("c_id", F.col("_b._cell").alias("_cell"))
    )
    return vecs.join(best, "c_id")


def probe(
    queries: DataFrame, cent: DataFrame, n_probe: int, *extra: Column
) -> DataFrame:
    """Each ``(q_id, q_vec)`` query's ``n_probe`` nearest cells as
    ``(q_id, q_vec, _cell, *extra)`` rows; ``extra`` columns may read
    the cell's ``_centroid``."""
    wp = Window.partitionBy("q_id").orderBy(F.asc("_dist"), F.asc("_cell"))
    return (
        queries.crossJoin(F.broadcast(cent))
        .withColumn("_dist", l2_sq("q_vec"))
        .withColumn("_pr", F.row_number().over(wp))
        .filter(F.col("_pr") <= n_probe)
        .select("q_id", "q_vec", "_cell", *extra)
    )


def probed_cells(probes: DataFrame) -> list[int]:
    """The probed cell ids, collected: partition pruning needs literal
    cell values at planning time, and the list is tiny by
    construction (≤ n_probe × |queries| ints)."""
    return sorted(
        r["_cell"] for r in probes.select("_cell").distinct().collect()
    )


def drift(
    live: DataFrame, cent: DataFrame, qerr_at_build: float | None
) -> tuple[int | None, dict]:
    """One pass over live ``(c_vec, _cell)`` rows for the rebuild
    signal. Returns ``(n_now, signals)``: ``qerr_ratio`` is the mean
    squared L2 to the assigned centroid over its build-time value (it
    catches distribution drift even at low append volume; 1.0 when
    either side is missing), ``cell_imbalance`` is max over mean cell
    size (a hot cell slows probes even when recall holds). The
    aggregates are NULL on an empty live corpus."""
    cur = (
        live.join(F.broadcast(cent), "_cell")
        .groupBy("_cell")
        .agg(
            F.count("*").alias("n"),
            F.sum(l2_sq("c_vec")).alias("qerr_sum"),
        )
        .agg(
            F.sum("n").alias("n_now"),
            (F.sum("qerr_sum") / F.sum("n")).alias("qerr_now"),
            (F.max("n") / F.avg("n")).alias("cell_imbalance"),
        )
        .collect()[0]
    )
    qerr_ratio = (
        cur["qerr_now"] / qerr_at_build
        if qerr_at_build and cur["qerr_now"] is not None
        else 1.0
    )
    return cur["n_now"], {
        "qerr_ratio": qerr_ratio,
        "cell_imbalance": cur["cell_imbalance"],
    }
