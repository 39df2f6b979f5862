"""8-bit scalar quantization (SQ8) for the C3 similarity surface —
FAISS's ``SQ8`` codec: per-dimension linear int8 codes trained from
the corpus min/max, a compressed-domain cosine scan, and an exact
refine of the shortlist against the original vectors.

- ``sq8_topk``: the one-shot form (trains and encodes per call).
- ``Sq8Index``: the persisted build-once / query-many flat index.
- ``IvfSq8Index``: IVF cells (operators/ivf.py) + SQ8 over residuals.

Both index classes take their layout, live reads, delete, compact and
deleted fraction from operators/persisted_index.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from timescale_cdc_spark.operators import ivf
from timescale_cdc_spark.operators.persisted_index import PersistedIndex
from timescale_cdc_spark.operators.similarity import cosine


def _sq8_train_bounds(corpus: DataFrame, vec_col: str):
    """Per-dimension (min, scale) for linear int8 codes — one O(dim)
    collect (two numbers per dimension to the driver, never rows)."""
    stats = (
        corpus.select(
            F.posexplode(F.col(vec_col).cast("array<double>")).alias(
                "_j", "_x"
            )
        )
        .groupBy("_j")
        .agg(F.min("_x").alias("_lo"), F.max("_x").alias("_hi"))
        .orderBy("_j")
        .collect()
    )
    vmins = [r["_lo"] for r in stats]
    # degenerate (constant) dimensions quantize to code 0 via scale 1
    scales = [((r["_hi"] - r["_lo"]) / 255.0) or 1.0 for r in stats]
    return vmins, scales


def _sq8_bounds_frame(spark, vmins, scales) -> DataFrame:
    """The bounds as a one-row broadcastable frame, so plan size stays
    O(1) in dimension (two array literals, not 2×dim scalar exprs)."""
    return spark.createDataFrame(
        [(vmins, scales)], "_vmin array<double>, _scale array<double>"
    )


def _sq8_encode(vec) -> F.Column:
    """vec → int8 codes under the ``_vmin``/``_scale`` bound columns."""
    return F.transform(
        vec,
        lambda x, j: F.least(
            F.greatest(
                F.round(
                    (x.cast("double") - F.element_at(F.col("_vmin"), j + 1))
                    / F.element_at(F.col("_scale"), j + 1)
                ),
                F.lit(0.0),
            ),
            F.lit(255.0),
        ).cast("int"),
    )


def _sq8_dequantize(code) -> F.Column:
    return F.transform(
        code,
        lambda c, j: F.element_at(F.col("_vmin"), j + 1)
        + c.cast("double") * F.element_at(F.col("_scale"), j + 1),
    )


def sq8_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    rerank: int = 50,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """C3 approximate top-K via 8-bit scalar quantization (FAISS's
    ``SQ8`` flat index — the other billion-scale compression
    workhorse next to PQ): per-dimension linear int8 codes trained
    from corpus min/max, a compressed-domain scan (dequantize + cosine
    on codes — 4× less I/O than float32), then exact re-rank of the
    approx top-``rerank`` against the ORIGINAL vectors fetched by id
    (the FAISS refine step — the wide float scan touches only
    |queries|·rerank rows, never the corpus).

    Scale shape: training is one O(dim) collect (per-dimension
    min/max); the bounds ride in a one-row broadcast frame so plan
    size stays O(1) in dimension; the code scan is one
    embarrassingly-parallel pass with broadcast queries, same as
    :func:`brute_force_topk` but over 1-byte-per-dim codes. This
    one-shot form re-trains bounds and re-encodes the corpus on
    EVERY call — for repeated query batches use :class:`Sq8Index`,
    which encodes once at build and serves every batch from persisted
    codes."""
    spark = corpus.sparkSession
    vmins, scales = _sq8_train_bounds(corpus, vec_col)
    bounds = _sq8_bounds_frame(spark, vmins, scales)
    codes = corpus.crossJoin(F.broadcast(bounds)).select(
        F.col(id_col).alias("c_id"),
        _sq8_encode(F.col(vec_col)).alias("_code"),
        "_vmin",
        "_scale",
    )
    raw = corpus.select(
        F.col(id_col).alias("c_id"), F.col(vec_col).alias("c_vec")
    )
    return _sq8_scan_refine(codes, raw, queries, k, rerank, id_col, vec_col)


def _sq8_scan_refine(
    codes: DataFrame,
    raw: DataFrame,
    queries: DataFrame,
    k: int,
    rerank: int,
    id_col: str,
    vec_col: str,
) -> DataFrame:
    """Shared SQ8 query tail: compressed-domain cosine scan over
    ``codes`` (carrying ``_vmin``/``_scale``) with broadcast queries,
    then exact re-rank of the approx top-``rerank`` against ``raw``
    fetched by id (the FAISS refine step)."""
    q = queries.select(
        F.col(id_col).alias("q_id"), F.col(vec_col).alias("q_vec")
    )
    approx = codes.join(
        F.broadcast(q), F.col("c_id") != F.col("q_id")
    ).withColumn("_acos", cosine(F.col("q_vec"), _sq8_dequantize(F.col("_code"))))
    wa = Window.partitionBy("q_id").orderBy(F.desc("_acos"), F.asc("c_id"))
    cand = (
        approx.withColumn("_ar", F.row_number().over(wa))
        .filter(F.col("_ar") <= rerank)
        .select("q_id", "q_vec", "c_id")
    )
    refined = cand.join(raw, "c_id").withColumn(
        "cos", F.round(cosine("q_vec", "c_vec"), 4)
    )
    w = Window.partitionBy("q_id").orderBy(F.desc("cos"), F.asc("c_id"))
    return (
        refined.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("q_id", "c_id", "cos", "rank")
    )


def _meta_bounds(spark, info: dict) -> DataFrame:
    """The frozen build-time bounds of a persisted index, from its
    meta row, as the one-row broadcastable frame."""
    return _sq8_bounds_frame(
        spark, list(info["_vmin"]), list(info["_scale"])
    )


class Sq8Index(PersistedIndex):
    """Build-once / query-many persisted SQ8 index (keeps
    :func:`sq8_topk`'s docstring promise): the PqIndex store pattern
    applied to scalar quantization. ``build`` trains the
    per-dimension bounds ONCE (one O(dim) collect), encodes the
    corpus ONCE, and persists codes + raw vectors + bounds meta;
    every later ``topk`` batch reads the compressed codes straight
    off disk — no bounds re-collect, no corpus re-encode, and the
    wide float scan still touches only |queries|·rerank rows in the
    refine step.

    Storage: codes as ``array<int>`` of 0..255 values — parquet's
    dictionary/bit-pack encoding stores them near 1 byte/dim, and
    keeping them as plain ints lets the dequantize scan stay a pure
    codegen expression (no unpack step). A deleted id leaves the
    compressed shortlist AND the exact refine at once, because both
    :meth:`codes` and :meth:`raw` are live reads."""

    DATA_DIRS = ("raw", "codes")

    def build(
        self,
        corpus: DataFrame,
        id_col: str = "vec_id",
        vec_col: str = "embedding",
    ) -> "Sq8Index":
        vmins, scales = _sq8_train_bounds(corpus, vec_col)
        bounds = _sq8_bounds_frame(self.spark, vmins, scales)
        raw = corpus.select(
            F.col(id_col).alias("c_id"), F.col(vec_col).alias("c_vec")
        )
        codes = corpus.crossJoin(F.broadcast(bounds)).select(
            F.col(id_col).alias("c_id"),
            _sq8_encode(F.col(vec_col)).alias("_code"),
        )
        codes.write.mode("overwrite").parquet(self._dir("codes"))
        raw.write.mode("overwrite").parquet(self._dir("raw"))
        self._write_small("meta", self.spark.createDataFrame(
            [(vmins, scales, len(vmins), raw.count())],
            "_vmin array<double>, _scale array<double>, "
            "dim int, n_at_build long",
        ))
        return self

    def codes(self) -> DataFrame:
        """LIVE code rows ``(c_id, _code)``."""
        return self._live("codes")

    def raw(self) -> DataFrame:
        """LIVE raw rows ``(c_id, c_vec)``."""
        return self._live("raw")

    # -- maintenance (the IvfIndex append/staleness contract for the
    # SQ8 family) ---------------------------------------------------------

    def append(
        self,
        new_vectors: DataFrame,
        id_col: str = "vec_id",
        vec_col: str = "embedding",
    ) -> None:
        """Absorb inserts WITHOUT retraining the bounds: encode with
        the FROZEN per-dimension grid (out-of-range coordinates CLAMP
        to the grid edge — ``_sq8_encode``'s least/greatest; the
        z-order stale-bounds contract) and append codes + raw. An
        insert batch is one map-side encode + two appends, never a
        corpus rewrite. Correctness is unaffected — the exact refine
        reads raw vectors — only the compressed scan's ranking
        sharpness decays as appends clamp; :meth:`staleness` is the
        rebuild trigger. Caller contract: ids are new (the CDC upsert
        path dedupes upstream).

        Crash-window discipline: the two appends are not atomic, so
        RAW commits FIRST. A crash between them leaves
        raw-without-codes — the batch's vectors are merely invisible
        to the compressed shortlist (a bounded recall gap, detectable
        as a codes/raw row-count mismatch) and :meth:`repair`
        re-encodes them. The reverse order would leave
        codes-without-raw: shortlisted ids the exact-refine join
        silently DROPS from every topk — an invisible wrong-answer
        state no sweep can see from the query path."""
        bounds = _meta_bounds(self.spark, self.meta())
        raw = new_vectors.select(
            F.col(id_col).alias("c_id"), F.col(vec_col).alias("c_vec")
        )
        codes = new_vectors.crossJoin(F.broadcast(bounds)).select(
            F.col(id_col).alias("c_id"),
            _sq8_encode(F.col(vec_col)).alias("_code"),
        )
        raw.write.mode("append").parquet(self._dir("raw"))
        codes.write.mode("append").parquet(self._dir("codes"))
        self.spark.catalog.refreshByPath(self._dir("codes"))
        self.spark.catalog.refreshByPath(self._dir("raw"))

    def repair(self) -> int:
        """Recover an interrupted :meth:`append`: encode and append
        codes for raw ids that have none (one anti-join over the
        corpus — maintenance cadence, same as :meth:`staleness`).
        Returns the number of rows repaired."""
        bounds = _meta_bounds(self.spark, self.meta())
        # localCheckpoint (not persist): the append WRITES to the same
        # codes path the anti-join READS. A persisted cache is
        # best-effort — an evicted block would recompute mid-append,
        # re-read the half-appended dir, and silently under-write.
        # The checkpoint severs the lineage for real.
        missing = (
            self.raw()
            .join(self.codes().select("c_id"), "c_id", "left_anti")
            .crossJoin(F.broadcast(bounds))
            .select("c_id", _sq8_encode(F.col("c_vec")).alias("_code"))
            .localCheckpoint()
        )
        n = missing.count()
        if n:
            missing.write.mode("append").parquet(self._dir("codes"))
            self.spark.catalog.refreshByPath(self._dir("codes"))
        # release the checkpointed blocks once the append has
        # committed — repeated repair() calls would otherwise
        # accumulate them until GC
        missing.unpersist()
        return n

    def staleness(self) -> dict:
        """Rebuild signal: ``appended_fraction`` (share of the corpus
        added since build — appends use frozen bounds) and
        ``clamp_fraction`` (rows with ≥1 coordinate outside the frozen
        grid — pure drift signal: build rows never clamp because the
        bounds ARE their min/max, so every clamped row is an appended
        outlier whose compressed ranking is degraded).
        ``rebuild_recommended`` once appended_fraction > 0.25 or
        clamp_fraction > 0.10; ``deleted_fraction`` and
        ``compact_recommended`` as in :meth:`IvfIndex.staleness`. One
        corpus scan — run on the maintenance cadence, not per
        query."""
        info = self.meta()
        oob = F.exists(
            F.transform(
                F.col("c_vec").cast("array<double>"),
                lambda x, j: (x < F.element_at(F.col("_vmin"), j + 1))
                | (
                    x
                    > F.element_at(F.col("_vmin"), j + 1)
                    + F.lit(255.0) * F.element_at(F.col("_scale"), j + 1)
                ),
            ),
            lambda b: b,
        )
        cur = (
            self.raw()
            .crossJoin(F.broadcast(_meta_bounds(self.spark, info)))
            .agg(
                F.count("*").alias("n_now"),
                F.avg(oob.cast("double")).alias("clamp_fraction"),
            )
            .collect()[0]
        )
        clamp_fraction = float(cur["clamp_fraction"] or 0.0)
        return self._staleness(
            info,
            cur["n_now"],
            {"clamp_fraction": clamp_fraction},
            clamp_fraction > 0.10,
        )

    def topk(
        self,
        queries: DataFrame,
        k: int = 5,
        rerank: int = 50,
        id_col: str = "vec_id",
        vec_col: str = "embedding",
    ) -> DataFrame:
        """Same (q_id, c_id, cos, rank) surface as :func:`sq8_topk`,
        served from the persisted codes: one bounds read (a single
        meta row to the driver), the compressed scan, the exact
        refine by id."""
        bounds = _meta_bounds(self.spark, self.meta())
        codes = self.codes().crossJoin(F.broadcast(bounds))
        return _sq8_scan_refine(
            codes, self.raw(), queries, k, rerank, id_col, vec_col
        )


class IvfSq8Index(PersistedIndex):
    """IVF + SQ8 with residual encoding (FAISS's
    ``IndexIVFScalarQuantizer``, the ``"IVF<n>,SQ8"`` factory string):
    a coarse KMeans quantizer routes each vector to a cell and SQ8
    encodes the RESIDUAL (vector − cell centroid) at int8 per
    dimension. The two reductions multiply exactly like IVF-PQ's: a
    query batch reads ``n_probe / n_cells`` of a corpus that is
    already 4× compressed, and residual encoding concentrates the
    int8 range on within-cell offsets (residual spans are far tighter
    than raw coordinate spans, so the 255-step grid is finer where it
    matters).

    Storage (the IvfPqIndex cell layout, SQ8 bounds instead of
    codebooks):
        <path>/centroids/          (_cell int, _centroid array<double>)
        <path>/codes/_cell=<c>/    (c_id long, _code array<int>)
        <path>/raw/_cell=<c>/      (c_id long, c_vec)
        <path>/meta/               (n_cells, dim, _vmin, _scale, n)

    Query: probe the ``n_probe`` nearest cells (broadcast-centroid
    join — plan size O(1) in cell count), collect the probed cell ids
    as literals so the codes scan is PARTITION-PRUNED, reconstruct
    candidates as centroid + dequantized residual (pure codegen),
    cosine-rank, exact-refine the shortlist against raw vectors read
    with the same pruning."""

    DATA_DIRS = ("raw", "codes")
    PARTITION_BY = ("_cell",)

    def build(
        self,
        corpus: DataFrame,
        id_col: str = "vec_id",
        vec_col: str = "embedding",
        n_cells: int = 16,
        seed: int = 42,
        sample_fraction: float | None = None,
    ) -> "IvfSq8Index":
        dim = corpus.select(F.size(vec_col).alias("d")).first()["d"]
        vecs = corpus.select(
            F.col(id_col).alias("c_id"), F.col(vec_col).alias("c_vec")
        )
        assigned, cent = ivf.fit_cells(vecs, n_cells, seed, sample_fraction)
        self._write_small("centroids", cent)
        with_res = assigned.join(F.broadcast(cent), "_cell").select(
            "c_id", "_cell", ivf.residual("c_vec").alias("_res")
        )
        # SQ8 bounds over RESIDUALS — one O(dim) collect, like Sq8Index
        vmins, scales = _sq8_train_bounds(with_res, "_res")
        bounds = _sq8_bounds_frame(self.spark, vmins, scales)
        codes = with_res.crossJoin(F.broadcast(bounds)).select(
            "c_id", "_cell", _sq8_encode(F.col("_res")).alias("_code")
        )
        codes.write.mode("overwrite").partitionBy("_cell").parquet(
            self._dir("codes")
        )
        assigned.write.mode("overwrite").partitionBy("_cell").parquet(
            self._dir("raw")
        )
        # build-time stats for the staleness signal: corpus size and
        # mean coarse quantization error (mean residual L2²)
        build_stats = with_res.agg(
            F.count("*").alias("n"),
            F.avg(
                F.aggregate(
                    F.col("_res"), F.lit(0.0), lambda acc, x: acc + x * x
                )
            ).alias("qerr"),
        ).collect()[0]
        self._write_small("meta", self.spark.createDataFrame(
            [(
                n_cells, dim, vmins, scales,
                build_stats["n"], float(build_stats["qerr"] or 0.0),
            )],
            "n_cells int, dim int, _vmin array<double>, "
            "_scale array<double>, n_at_build long, "
            "qerr_at_build double",
        ))
        return self

    def centroids(self) -> DataFrame:
        return self._read("centroids")

    def codes(self) -> DataFrame:
        """LIVE code rows ``(c_id, _code, _cell)``."""
        return self._live("codes")

    def raw(self) -> DataFrame:
        """LIVE raw rows ``(c_id, c_vec, _cell)``."""
        return self._live("raw")

    # -- maintenance -------------------------------------------------------

    def append(
        self,
        new_vectors: DataFrame,
        id_col: str = "vec_id",
        vec_col: str = "embedding",
    ) -> None:
        """Absorb inserts WITHOUT refitting coarse quantizer or
        bounds: assign each vector to its nearest FROZEN centroid
        (:func:`ivf.assign_cells`), encode the residual with the
        FROZEN grid (out-of-range clamps), and append into that
        cell's codes/raw partition directories — one broadcast join +
        two partition-local appends, never a corpus rewrite. Recall
        decays only as the distribution drifts off the frozen
        centroids/bounds; :meth:`staleness` is the rebuild trigger.
        Caller contract: ids are new (CDC upsert dedupes upstream).

        Crash-window discipline (same as :meth:`Sq8Index.append`):
        raw commits FIRST so an interrupted append leaves only
        shortlist-invisible raw rows (recoverable via
        :meth:`repair`), never codes whose refine join silently drops
        shortlisted results."""
        bounds = _meta_bounds(self.spark, self.meta())
        cent = self.centroids()
        v = new_vectors.select(
            F.col(id_col).alias("c_id"), F.col(vec_col).alias("c_vec")
        )
        assigned = ivf.assign_cells(v, cent).join(F.broadcast(cent), "_cell")
        # one exchange on _cell before the partitioned writes: without
        # it every task appends a file per touched cell (tasks ×
        # n_cells small files per append batch)
        enc = (
            assigned.withColumn("_res", ivf.residual("c_vec"))
            .crossJoin(F.broadcast(bounds))
            .select(
                "c_id", "c_vec", "_cell",
                _sq8_encode(F.col("_res")).alias("_code"),
            )
            .repartition("_cell")
            .persist()
        )
        enc.select("c_id", "c_vec", "_cell").write.mode(
            "append"
        ).partitionBy("_cell").parquet(self._dir("raw"))
        enc.select("c_id", "_cell", "_code").write.mode(
            "append"
        ).partitionBy("_cell").parquet(self._dir("codes"))
        enc.unpersist()
        self.spark.catalog.refreshByPath(self._dir("codes"))
        self.spark.catalog.refreshByPath(self._dir("raw"))

    def repair(self) -> int:
        """Recover an interrupted :meth:`append`: re-encode residuals
        for raw ids with no codes row (raw stores the assigned cell,
        so no re-assignment is needed — one anti-join + the frozen-grid
        encode, appended into the missing cells' partitions). Returns
        the number of rows repaired."""
        bounds = _meta_bounds(self.spark, self.meta())
        # localCheckpoint, not persist — severs the read-write cycle on
        # the codes dir for real (see Sq8Index.repair)
        missing = (
            self.raw()
            .join(self.codes().select("c_id"), "c_id", "left_anti")
            .join(F.broadcast(self.centroids()), "_cell")
            .withColumn("_res", ivf.residual("c_vec"))
            .crossJoin(F.broadcast(bounds))
            .select("c_id", "_cell", _sq8_encode(F.col("_res")).alias("_code"))
            .repartition("_cell")
            .localCheckpoint()
        )
        n = missing.count()
        if n:
            missing.write.mode("append").partitionBy("_cell").parquet(
                self._dir("codes")
            )
            self.spark.catalog.refreshByPath(self._dir("codes"))
        # release the checkpointed blocks once the append committed
        missing.unpersist()
        return n

    def staleness(self) -> dict:
        """The :meth:`IvfIndex.staleness` contract over the raw rows:
        appended_fraction (appends use frozen centroids+bounds),
        qerr_ratio (current mean residual L2² over the build-time
        mean), cell_imbalance, deleted_fraction, compact_recommended
        and rebuild_recommended (appended_fraction > 0.25 or
        qerr_ratio > 1.5). One corpus scan + one agg;
        maintenance-cadence cheap."""
        info = self.meta()
        n_now, signals = ivf.drift(
            self.raw(), self.centroids(), info.get("qerr_at_build")
        )
        return self._staleness(
            info, n_now, signals, signals["qerr_ratio"] > 1.5
        )

    def topk(
        self,
        queries: DataFrame,
        k: int = 5,
        n_probe: int = 4,
        rerank: int = 50,
        id_col: str = "vec_id",
        vec_col: str = "embedding",
    ) -> DataFrame:
        bounds = _meta_bounds(self.spark, self.meta())
        q = queries.select(
            F.col(id_col).alias("q_id"), F.col(vec_col).alias("q_vec")
        )
        probes = ivf.probe(q, self.centroids(), n_probe)
        cells = ivf.probed_cells(probes)
        cent = self.centroids().withColumnRenamed("_centroid", "_cc")
        pruned = (
            self.codes()
            .filter(F.col("_cell").isin(cells))
            .join(F.broadcast(cent), "_cell")
            .crossJoin(F.broadcast(bounds))
        )
        # reconstruct = centroid + dequantized residual (pure codegen)
        recon = F.zip_with(
            F.col("_cc"), _sq8_dequantize(F.col("_code")),
            lambda a, b: a + b,
        )
        cand = (
            pruned.join(F.broadcast(probes), "_cell")
            .filter(F.col("c_id") != F.col("q_id"))
            .withColumn("_acos", cosine(F.col("q_vec"), recon))
        )
        wa = Window.partitionBy("q_id").orderBy(
            F.desc("_acos"), F.asc("c_id")
        )
        shortlist = (
            cand.withColumn("_ar", F.row_number().over(wa))
            .filter(F.col("_ar") <= max(rerank, k))
            .select("q_id", "q_vec", "c_id")
        )
        raw_pruned = self.raw().filter(F.col("_cell").isin(cells)).select(
            "c_id", "c_vec"
        )
        refined = shortlist.join(raw_pruned, "c_id").withColumn(
            "cos", F.round(cosine("q_vec", "c_vec"), 4)
        )
        w = Window.partitionBy("q_id").orderBy(F.desc("cos"), F.asc("c_id"))
        return (
            refined.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select("q_id", "c_id", "cos", "rank")
        )
