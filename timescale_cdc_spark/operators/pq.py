"""Product-quantization ANN index (SURVEY.md §2 C3 extension — the
billion-vector compression standard; Jégou, Douze, Schmid, "Product
Quantization for Nearest Neighbor Search", IEEE TPAMI 2011).

PQ splits each d-dim vector into ``m`` subspaces of d/m dims and
quantizes each subspace independently against its own ``k_sub``-entry
codebook: a vector becomes ``m`` small integers (e.g. 64 dims × float
→ 8 bytes of codes at m=8/k_sub=256 — a 32× compression), and
approximate distances are computed WITHOUT decompressing via ADC
(asymmetric distance computation): per query, precompute the m×k_sub
table of exact sub-distances query↔codebook entry, then a candidate's
distance is just m table lookups summed.

Spark-native split of the work (who computes what, and why):

* **Training** (once): ``m`` independent spark.ml KMeans fits on the
  vector slices — distributed, sample-able (``sample_fraction``) like
  IvfIndex's coarse quantizer.
* **Encoding** (once per corpus, bulk): Arrow-batched ``mapInPandas``
  — encoding is pure dense matrix math (batch × k_sub × d flops per
  subspace), exactly the numpy-vectorized shape; the codebooks ride
  into the closure (m × k_sub × d/m doubles — ~130 KB at
  production sizes). The JVM-expression alternative (corpus ×
  broadcast-codebook join + min_by) multiplies the corpus by
  m × k_sub rows — the explode anti-pattern at scale.
* **Query scoring** (every query batch, the hot path): pure JVM
  expressions. Queries are the SMALL side: the per-query LUT is built
  with one broadcast join against the codebook table (|q| × m × k_sub
  rows — bounded by the query batch) and collected into one flat
  array per query; candidates are scored with
  ``aggregate(zip_with(code, lut-offsets))`` — whole-stage codegen,
  ZERO Python per candidate, which is where the 100 TB bytes are.
* **Re-rank** (optional, recommended): exact cosine on the ADC top-R
  per query from the raw vectors — the standard ADC→exact refine
  step; R bounds the exact work per query.

Storage (the persisted_index.py layout and lifecycle):

    <path>/codebooks/   (_j int, _cid int, _centroid array<double>)
    <path>/codes/       (c_id long, _code array<int>)
    <path>/raw/         (c_id long, c_vec array<float>)   for re-rank
    <path>/meta/        (m, k_sub, dim, n_at_build)
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from timescale_cdc_spark.operators import ivf
from timescale_cdc_spark.operators.persisted_index import PersistedIndex
from timescale_cdc_spark.operators.similarity import _cosine_for


def _train_subquantizers(
    fit_base: DataFrame, vec_col: str, m: int, d_sub: int, k_sub: int,
    seed: int,
) -> list[tuple[int, int, list[float]]]:
    """m independent spark.ml KMeans fits on the vector slices →
    codebook rows (_j, _cid, centroid). Shared by PqIndex (raw
    vectors) and IvfPqIndex (residuals)."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    cb_rows: list[tuple[int, int, list[float]]] = []
    for j in range(m):
        sub = fit_base.select(
            array_to_vector(
                F.slice(F.col(vec_col), j * d_sub + 1, d_sub).cast(
                    "array<double>"
                )
            ).alias("_fv")
        )
        model = KMeans(
            k=k_sub, seed=seed + j, featuresCol="_fv", predictionCol="_cid"
        ).fit(sub)
        for cid, c in enumerate(model.clusterCenters()):
            cb_rows.append((j, cid, [float(x) for x in np.asarray(c)]))
    return cb_rows


def _encode_with_books(
    df: DataFrame,
    vec_col: str,
    cb_rows: list[tuple[int, int, list[float]]],
    m: int,
    d_sub: int,
    k_sub: int,
    extra_cols: list[str],
) -> DataFrame:
    """Arrow-batched PQ encode: argmin sub-centroid per subspace, as
    one numpy matmul per subspace per batch; codebooks ride in the
    closure (~m × k_sub × d_sub doubles). Returns (c_id, *extra_cols,
    _code array<int>)."""
    books = np.zeros((m, k_sub, d_sub))
    for j, cid, c in cb_rows:
        books[j, cid] = c

    def encode(batches):
        import pandas as pd

        for pdf in batches:
            V = np.vstack(pdf[vec_col].to_numpy()).astype(np.float64)
            n = V.shape[0]
            codes = np.empty((n, m), dtype=np.int32)
            for j in range(m):
                sub = V[:, j * d_sub:(j + 1) * d_sub]
                C = books[j]
                # ‖x−c‖² = ‖x‖² − 2x·c + ‖c‖²; ‖x‖² is constant per
                # row, irrelevant to the argmin
                dists = -2.0 * (sub @ C.T) + (C * C).sum(axis=1)
                codes[:, j] = dists.argmin(axis=1)
            out = {"c_id": pdf["c_id"], "_code": list(codes)}
            for c in extra_cols:
                out[c] = pdf[c]
            yield pd.DataFrame(out)

    extra_schema = "".join(f", {c} int" for c in extra_cols)
    return df.mapInPandas(
        encode, schema=f"c_id long{extra_schema}, _code array<int>"
    )


def _adc_expr(m: int, k_sub: int):
    """Candidate ADC score: m lookups into the flat per-query LUT,
    summed — pure whole-stage-codegen expressions."""
    offsets = F.sequence(F.lit(0), F.lit(m - 1))
    return F.aggregate(
        F.zip_with(
            F.col("_code"),
            offsets,
            lambda c, j: F.element_at(
                F.col("_lut"), (j * k_sub + c + 1).cast("int")
            ),
        ),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


class PqIndex(PersistedIndex):
    """Build-once / query-many product-quantization index. Build-once:
    there is no append path, so deletes are the only staleness it
    accumulates and :meth:`deleted_fraction` is its compaction
    trigger."""

    DATA_DIRS = ("raw", "codes")

    # -- build ---------------------------------------------------------

    def build(
        self,
        corpus: DataFrame,
        id_col: str = "vec_id",
        vec_col: str = "embedding",
        m: int = 8,
        k_sub: int = 16,
        seed: int = 42,
        sample_fraction: float | None = None,
    ) -> "PqIndex":
        """Train the ``m`` subquantizers, encode the corpus, persist
        codebooks + codes + raw vectors."""
        first = corpus.select(F.size(vec_col).alias("d")).first()
        dim = first["d"]
        if dim % m != 0:
            raise ValueError(f"dim {dim} not divisible by m={m}")
        d_sub = dim // m

        vecs = corpus.select(
            F.col(id_col).alias("c_id"),
            F.col(vec_col).alias("c_vec"),
        )
        fit_base = (
            vecs.sample(fraction=sample_fraction, seed=seed)
            if sample_fraction
            else vecs
        )

        cb_rows = _train_subquantizers(
            fit_base, "c_vec", m, d_sub, k_sub, seed
        )
        self._write_small("codebooks", self.spark.createDataFrame(
            cb_rows, schema="_j int, _cid int, _centroid array<double>"
        ))

        encoded = _encode_with_books(
            vecs, "c_vec", cb_rows, m, d_sub, k_sub, extra_cols=[]
        )
        encoded.write.mode("overwrite").parquet(self._dir("codes"))
        vecs.write.mode("overwrite").parquet(self._dir("raw"))

        self._write_small("meta", self.spark.createDataFrame(
            [(m, k_sub, dim, vecs.count())],
            schema="m int, k_sub int, dim int, n_at_build long",
        ))
        return self

    # -- read ----------------------------------------------------------

    def codebooks(self) -> DataFrame:
        return self._read("codebooks")

    def codes(self) -> DataFrame:
        """LIVE code rows ``(c_id, _code)``."""
        return self._live("codes")

    def raw(self) -> DataFrame:
        """LIVE raw rows ``(c_id, c_vec)``."""
        return self._live("raw")

    # -- query ---------------------------------------------------------

    def topk(
        self,
        queries: DataFrame,
        k: int = 5,
        rerank: int | None = 50,
        id_col: str = "vec_id",
        vec_col: str = "embedding",
        engine: str = "jvm",
    ) -> DataFrame:
        """ADC top-K: per-query LUT via one broadcast codebook join,
        candidate scores as pure JVM lookup-sum expressions, optional
        exact-cosine re-rank of the ADC top-``rerank``.

        Returns (q_id, c_id, cos, rank) when re-ranking (cosine
        rounded to 4dp like the other C3 surfaces) or
        (q_id, c_id, adc_dist, rank) raw-ADC otherwise.
        """
        info = self.meta()
        m, k_sub, dim = info["m"], info["k_sub"], info["dim"]
        d_sub = dim // m

        q = queries.select(
            F.col(id_col).alias("q_id"), F.col(vec_col).alias("q_vec")
        )
        # exact sub-distance query ↔ codebook entry, |q| × m × k_sub rows
        sub_dist = F.aggregate(
            F.zip_with(
                F.slice(F.col("q_vec"), F.col("_j") * d_sub + 1, d_sub),
                F.col("_centroid"),
                lambda a, b: (a.cast("double") - b)
                * (a.cast("double") - b),
            ),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
        lut_rows = q.join(F.broadcast(self.codebooks())).withColumn(
            "_dist", sub_dist
        )
        # one flat array per query, ordered by (j, cid): index j*k_sub+cid
        lut = lut_rows.groupBy("q_id").agg(
            F.first("q_vec").alias("q_vec"),
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.struct(
                            (F.col("_j") * k_sub + F.col("_cid")).alias(
                                "_i"
                            ),
                            F.col("_dist"),
                        )
                    )
                ),
                lambda s: s["_dist"],
            ).alias("_lut"),
        )
        adc = _adc_expr(m, k_sub)
        cand = (
            self.codes()
            .join(F.broadcast(lut))
            .filter(F.col("c_id") != F.col("q_id"))
            .withColumn("adc_dist", adc)
        )
        w = Window.partitionBy("q_id").orderBy(
            F.asc("adc_dist"), F.asc("c_id")
        )
        if rerank is None:
            return (
                cand.withColumn("rank", F.row_number().over(w))
                .filter(F.col("rank") <= k)
                .select("q_id", "c_id", F.round("adc_dist", 6).alias(
                    "adc_dist"), "rank")
            )
        shortlist = (
            cand.withColumn("_r", F.row_number().over(w))
            .filter(F.col("_r") <= max(rerank, k))
            .select("q_id", "q_vec", "c_id")
        )
        rescored = shortlist.join(
            self.raw(), "c_id"
        ).withColumn(
            "cos",
            F.round(
                _cosine_for(engine)(F.col("q_vec"), F.col("c_vec")), 4
            ),
        )
        wr = Window.partitionBy("q_id").orderBy(F.desc("cos"), F.asc("c_id"))
        return (
            rescored.withColumn("rank", F.row_number().over(wr))
            .filter(F.col("rank") <= k)
            .select("q_id", "c_id", "cos", "rank")
        )


class IvfPqIndex(PersistedIndex):
    """IVF-PQ with RESIDUAL encoding — the FAISS billion-scale design
    (Jégou et al. §V; FAISS ``IndexIVFPQ``): a coarse KMeans quantizer
    routes each vector to a cell, and PQ encodes the RESIDUAL
    (vector − cell centroid) rather than the vector. Residual encoding
    is what fixes plain PQ's measured weakness on clustered corpora
    (SCALE.md: codes spend their entropy restating the cluster
    location): the cell id already carries the location, so all code
    entropy goes to the within-cell offset.

    Query: probe the ``n_probe`` nearest cells (broadcast centroid
    join, IvfIndex's shape), build a PER-(query, cell) LUT from the
    query's residual against that cell, ADC-score only the probed
    cells' codes — the codes table is disk-partitioned by ``_cell``,
    so the scan is PARTITION-PRUNED: at scale a query batch reads
    ``n_probe / n_cells`` of a corpus that is ALREADY 32× compressed —
    the two reductions multiply. Exact-cosine re-rank reads raw
    vectors only for the shortlist's cells (same pruning).

    Storage:
        <path>/centroids/          (_cell int, _centroid array<double>)
        <path>/codebooks/          (_j, _cid, _centroid)   residual books
        <path>/codes/_cell=<c>/    (c_id long, _code array<int>)
        <path>/raw/_cell=<c>/      (c_id long, c_vec array<float>)
        <path>/meta/

    Build-once, like :class:`PqIndex`.
    """

    DATA_DIRS = ("raw", "codes")
    PARTITION_BY = ("_cell",)

    def build(
        self,
        corpus: DataFrame,
        id_col: str = "vec_id",
        vec_col: str = "embedding",
        n_cells: int = 16,
        m: int = 8,
        k_sub: int = 16,
        seed: int = 42,
        sample_fraction: float | None = None,
    ) -> "IvfPqIndex":
        dim = corpus.select(F.size(vec_col).alias("d")).first()["d"]
        if dim % m != 0:
            raise ValueError(f"dim {dim} not divisible by m={m}")
        d_sub = dim // m

        vecs = corpus.select(
            F.col(id_col).alias("c_id"), F.col(vec_col).alias("c_vec")
        )
        assigned, cent = ivf.fit_cells(vecs, n_cells, seed, sample_fraction)
        self._write_small("centroids", cent)
        with_res = assigned.join(F.broadcast(cent), "_cell").select(
            "c_id", "c_vec", "_cell", ivf.residual("c_vec").alias("_res")
        )

        res_fit = (
            with_res.sample(fraction=sample_fraction, seed=seed)
            if sample_fraction
            else with_res
        )
        cb_rows = _train_subquantizers(
            res_fit, "_res", m, d_sub, k_sub, seed
        )
        self._write_small("codebooks", self.spark.createDataFrame(
            cb_rows, schema="_j int, _cid int, _centroid array<double>"
        ))

        encoded = _encode_with_books(
            with_res.select("c_id", "_res", "_cell"),
            "_res",
            cb_rows,
            m,
            d_sub,
            k_sub,
            extra_cols=["_cell"],
        )
        encoded.write.mode("overwrite").partitionBy("_cell").parquet(
            self._dir("codes")
        )
        assigned.write.mode("overwrite").partitionBy("_cell").parquet(
            self._dir("raw")
        )

        self._write_small("meta", self.spark.createDataFrame(
            [(n_cells, m, k_sub, dim, assigned.count())],
            schema="n_cells int, m int, k_sub int, dim int, n_at_build long",
        ))
        return self

    def centroids(self) -> DataFrame:
        return self._read("centroids")

    def codebooks(self) -> DataFrame:
        return self._read("codebooks")

    def codes(self) -> DataFrame:
        """LIVE code rows ``(c_id, _code, _cell)``."""
        return self._live("codes")

    def raw(self) -> DataFrame:
        """LIVE raw rows ``(c_id, c_vec, _cell)``."""
        return self._live("raw")

    def topk(
        self,
        queries: DataFrame,
        k: int = 5,
        n_probe: int = 4,
        rerank: int | None = 50,
        id_col: str = "vec_id",
        vec_col: str = "embedding",
        engine: str = "jvm",
    ) -> DataFrame:
        """Probed, partition-pruned, residual-ADC top-K with exact
        re-rank (rerank=None returns raw ADC ranks)."""
        info = self.meta()
        m, k_sub, dim = info["m"], info["k_sub"], info["dim"]
        d_sub = dim // m

        q = queries.select(
            F.col(id_col).alias("q_id"), F.col(vec_col).alias("q_vec")
        )
        probes = ivf.probe(
            q, self.centroids(), n_probe, ivf.residual("q_vec").alias("_qres")
        )
        cells = ivf.probed_cells(probes)

        # per-(query, probed cell) LUT from the query RESIDUAL
        sub_dist = F.aggregate(
            F.zip_with(
                F.slice(F.col("_qres"), F.col("_j") * d_sub + 1, d_sub),
                F.col("_cb"),
                lambda a, b: (a - b) * (a - b),
            ),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
        lut = (
            probes.join(
                F.broadcast(
                    self.codebooks().withColumnRenamed("_centroid", "_cb")
                )
            )
            .withColumn("_dist", sub_dist)
            .groupBy("q_id", "_cell")
            .agg(
                F.first("q_vec").alias("q_vec"),
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.struct(
                                (
                                    F.col("_j") * k_sub + F.col("_cid")
                                ).alias("_i"),
                                F.col("_dist"),
                            )
                        )
                    ),
                    lambda s: s["_dist"],
                ).alias("_lut"),
            )
        )

        pruned = self.codes().filter(F.col("_cell").isin(cells))
        cand = (
            pruned.join(F.broadcast(lut), "_cell")
            .filter(F.col("c_id") != F.col("q_id"))
            .withColumn("adc_dist", _adc_expr(m, k_sub))
        )
        w = Window.partitionBy("q_id").orderBy(
            F.asc("adc_dist"), F.asc("c_id")
        )
        if rerank is None:
            return (
                cand.withColumn("rank", F.row_number().over(w))
                .filter(F.col("rank") <= k)
                .select(
                    "q_id",
                    "c_id",
                    F.round("adc_dist", 6).alias("adc_dist"),
                    "rank",
                )
            )
        shortlist = (
            cand.withColumn("_r", F.row_number().over(w))
            .filter(F.col("_r") <= max(rerank, k))
            .select("q_id", "q_vec", "c_id")
        )
        raw_pruned = self.raw().filter(F.col("_cell").isin(cells))
        rescored = shortlist.join(raw_pruned, "c_id").withColumn(
            "cos",
            F.round(
                _cosine_for(engine)(F.col("q_vec"), F.col("c_vec")), 4
            ),
        )
        wr = Window.partitionBy("q_id").orderBy(F.desc("cos"), F.asc("c_id"))
        return (
            rescored.withColumn("rank", F.row_number().over(wr))
            .filter(F.col("rank") <= k)
            .select("q_id", "c_id", "cos", "rank")
        )
