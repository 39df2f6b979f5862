"""Persisted ANN indexes (SURVEY.md §2 C3, the build-once scale
paths): IVF-Flat and banded hyperplane LSH.

``ivf_topk`` (operators/similarity.py) re-fits KMeans on every query
call — fine for a one-shot query, but the coarse quantizer fit
dominates wall-clock as soon as the corpus is large or queries repeat
(measured in SCALE.md: 66 s of a 78 s 1M-vector query run was KMeans).
A real deployment builds the index ONCE and serves many query batches
from it. ``IvfIndex`` materializes exactly what FAISS's IVF-Flat
keeps in RAM, as two parquet tables:

    <path>/centroids/          (_cell int, _centroid array<double>)
    <path>/corpus/_cell=<k>/   (c_id long, c_vec array<float>)

The corpus is disk-partitioned by cell, so a probe of ``n_probe``
cells is a PARTITION-PRUNED scan — at 100 TB the query side reads
``n_probe / n_clusters`` of the bytes, not a filtered full scan. The
centroid table is tiny (n_clusters rows) and rides in a broadcast
join; plan size stays O(1) in cluster count. The quantizer is the
shared IVF partitioner (operators/ivf.py); paths, live reads, delete,
compact and the deleted fraction come from the shared lifecycle
(operators/persisted_index.py).

Reference parity: the reference has no ANN surface (its embedding
columns never existed); this is part of the training-data-pipeline
extension mandated alongside SURVEY §2.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from timescale_cdc_spark.operators import ivf
from timescale_cdc_spark.operators.persisted_index import PersistedIndex
from timescale_cdc_spark.operators.similarity import _cosine_for


class IvfIndex(PersistedIndex):
    """Build-once / query-many IVF-Flat index over an embedding table."""

    DATA_DIRS = ("corpus",)
    PARTITION_BY = ("_cell",)

    # -- build ---------------------------------------------------------------

    def build(
        self,
        corpus: DataFrame,
        id_col: str = "vec_id",
        vec_col: str = "embedding",
        n_clusters: int = 16,
        seed: int = 42,
        sample_fraction: float | None = None,
    ) -> "IvfIndex":
        """Fit the coarse quantizer and materialize the index.

        ``sample_fraction`` fits KMeans on a sample (the standard move
        at billion-vector scale — the quantizer needs cluster SHAPES,
        not every point); assignment still covers the full corpus.
        """
        vecs = corpus.select(
            F.col(id_col).alias("c_id"), F.col(vec_col).alias("c_vec")
        )
        assigned, cent = ivf.fit_cells(
            vecs, n_clusters, seed, sample_fraction
        )
        self._write_small("centroids", cent)
        (
            assigned.write.mode("overwrite")
            .partitionBy("_cell")
            .parquet(self._dir("corpus"))
        )

        # Build-time stats for the staleness signal: corpus size and
        # mean quantization error (mean L2² to the assigned centroid).
        stats = (
            self.corpus()
            .join(F.broadcast(self.centroids()), "_cell")
            .agg(
                F.count("*").alias("n_at_build"),
                F.avg(ivf.l2_sq("c_vec")).alias("qerr_at_build"),
            )
            .withColumn("n_clusters", F.lit(n_clusters))
        )
        self._write_small("meta", stats)
        return self

    # -- maintenance ---------------------------------------------------------

    def append(
        self,
        new_vectors: DataFrame,
        id_col: str = "vec_id",
        vec_col: str = "embedding",
    ) -> None:
        """Absorb inserts WITHOUT refitting the quantizer: assign each
        new vector to its nearest existing centroid
        (:func:`ivf.assign_cells`) and append into that cell's
        partition directory.

        This is how a CDC-fed index stays queryable between rebuilds —
        an insert batch is one broadcast join + one partition-local
        append, never a corpus rewrite. Recall degrades only as the
        data distribution drifts away from the frozen centroids; the
        drift is observable via :meth:`staleness`, which is the rebuild
        trigger. Caller contract: ids in ``new_vectors`` are new (the
        CDC upsert path dedupes upstream); appending an existing id
        would shadow nothing and surface both rows.
        """
        v = new_vectors.select(
            F.col(id_col).alias("c_id"), F.col(vec_col).alias("c_vec")
        )
        # one exchange on _cell so each append writes one file per
        # touched cell, not tasks × cells
        assigned = ivf.assign_cells(v, self.centroids()).repartition("_cell")
        (
            assigned.write.mode("append")
            .partitionBy("_cell")
            .parquet(self._dir("corpus"))
        )

    def staleness(self) -> dict:
        """Rebuild signal for the maintenance loop. Returns:

        - ``appended_fraction``: share of the corpus appended since the
          last build — the primary trigger (appends are assigned to
          FROZEN centroids, so quantizer quality decays with this).
        - ``qerr_ratio``: current mean quantization error over the
          build-time mean — detects distribution DRIFT even at low
          append volume (new vectors far from every centroid).
        - ``cell_imbalance``: max cell size / mean cell size — a hot
          cell degrades probe cost even when recall holds.
        - ``deleted_fraction``: tombstoned share of the stored rows —
          dead bytes every probe still scans past until
          :meth:`compact` purges them; ``compact_recommended`` flips
          at > 0.10.
        - ``rebuild_recommended``: True once appended_fraction > 0.25
          or qerr_ratio > 1.5.

        One pruned-free corpus scan (count + one agg) — cheap relative
        to a rebuild's KMeans fit; run it on the maintenance cadence,
        not per query.
        """
        info = self.meta()
        n_now, signals = ivf.drift(
            self.corpus(), self.centroids(), info["qerr_at_build"]
        )
        return self._staleness(
            info, n_now, signals, signals["qerr_ratio"] > 1.5
        )

    # -- query ---------------------------------------------------------------

    def centroids(self) -> DataFrame:
        return self._read("centroids")

    def corpus(self) -> DataFrame:
        """LIVE corpus rows ``(c_id, c_vec, _cell)``."""
        return self._live("corpus")

    def topk(
        self,
        queries: DataFrame,
        k: int = 5,
        n_probe: int = 4,
        id_col: str = "vec_id",
        vec_col: str = "embedding",
        engine: str = "jvm",
    ) -> DataFrame:
        """Approximate top-K from the persisted index.

        Probe assignment is a broadcast join against the centroid
        table; the corpus read is filtered on the partition column
        ``_cell`` so only probed cell directories are scanned
        (PartitionFilters in the plan — asserted in tests).
        ``engine='arrow'`` uses the numpy-batched re-rank scorer
        (similarity.cosine_arrow) — the throughput path once probes
        touch millions of candidates."""
        q = queries.select(
            F.col(id_col).alias("q_id"), F.col(vec_col).alias("q_vec")
        )
        probes = ivf.probe(q, self.centroids(), n_probe)
        pruned = self.corpus().filter(
            F.col("_cell").isin(ivf.probed_cells(probes))
        )
        cand = pruned.join(
            F.broadcast(probes),
            (pruned["_cell"] == probes["_cell"])
            & (F.col("c_id") != F.col("q_id")),
        ).select("q_id", "q_vec", "c_id", "c_vec")
        scored = cand.withColumn(
            "cos", F.round(_cosine_for(engine)(F.col("q_vec"), F.col("c_vec")), 4)
        )
        w = Window.partitionBy("q_id").orderBy(F.desc("cos"), F.asc("c_id"))
        return (
            scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select("q_id", "c_id", "cos", "rank")
        )


class LshIndex(PersistedIndex):
    """Build-once / query-many banded hyperplane-LSH index.

    ``hyperplane_lsh_topk`` re-sketches the corpus on every call —
    one linear pass, but at 1M vectors that pass IS the cost (9.9 s
    Arrow / 66 s JVM, SCALE.md) while the touch-bounded candidate join
    is pennies. A serving deployment sketches ONCE and answers many
    query batches from the banded layout:

        <path>/banded/chunk=<c>/kp=<p>/  (c_id long, c_vec array<float>,
                                          key long)
        <path>/meta/                     (num_planes, chunks, width, dim,
                                          seed, n_flip, prefix_bits)

    The banded table is disk-partitioned by band (chunk) and, with
    ``prefix_bits=p``, further by the key's top p bits: a query batch
    COLLECTS its probed (band, prefix) pairs (≤ queries × bands ×
    (1+n_flip) ints — tiny by the same contract as IvfIndex's probed
    cells) and the scan is PARTITION-PRUNED to those directories at
    planning time, reading ~(probed prefixes)/2^p of each band's
    bytes. The pruning pays only once the banded table is big enough
    that bytes beat per-partition overhead — measured crossover notes
    in SCALE.md; default is the flat per-band layout. The key
    equi-join is a plain broadcast hash join either way.
    Unlike the IVF quantizer, sketches have NO fitted state — appended
    vectors get the same hyperplanes, so ``append`` causes zero recall
    decay and there is no staleness metric to watch (the structural
    advantage of data-independent indexes; the flip side is no
    adaptation to the corpus distribution, which is what
    :class:`IvfIndex` buys). :meth:`deleted_fraction` is its
    compaction trigger; a purged table is bit-equivalent to a fresh
    build over the live corpus.
    """

    DATA_DIRS = ("banded",)
    PARTITION_BY = ("chunk", "kp")

    def build(
        self,
        corpus: DataFrame,
        id_col: str = "vec_id",
        vec_col: str = "embedding",
        num_planes: int = 96,
        chunks: int = 16,
        dim: int = 64,
        seed: int = 42,
        n_flip: int = 2,
        sketch_engine: str = "arrow",
        prefix_bits: int = 0,
    ) -> "LshIndex":
        """Sketch the corpus once into the banded layout. The Arrow
        engine is the default here (this is explicitly the throughput
        path); pass 'jvm' for the expression-fold engine.

        ``prefix_bits=p`` splits each band into 2^p key-prefix
        directories so query batches partition-prune to their probed
        prefixes. MEASURED tradeoff (SCALE.md): at 1M vectors the
        default flat layout serves a batch in 4.4 s while p=6 takes
        7.2 s — 768 small partitions cost more in listing/task
        overhead than the ~94% byte saving returns on a ~GB local
        table. Turn it on when the banded table is large enough that
        bytes dominate (the 100 TB serving shape); leave 0 below
        that."""
        from timescale_cdc_spark.operators.similarity import (
            _banded_arrow,
            _home_key,
            _hyperplanes,
            proj_expr,
        )

        if num_planes % chunks:
            raise ValueError("num_planes must be divisible by chunks")
        width = num_planes // chunks
        if not 0 <= prefix_bits <= width:
            raise ValueError("prefix_bits must be in [0, band width]")
        planes = _hyperplanes(num_planes, dim, seed)
        if sketch_engine == "arrow":
            banded = _banded_arrow(
                corpus, "c", planes, chunks, width, id_col, vec_col
            )
        else:
            bands = ", ".join(
                f"struct({c} AS chunk, {_home_key('_proj', c, width)} AS key)"
                for c in range(chunks)
            )
            banded = (
                corpus.select(
                    F.col(id_col).alias("c_id"),
                    F.col(vec_col).alias("c_vec"),
                    proj_expr(vec_col, planes).alias("_proj"),
                )
                .select(
                    "c_id", "c_vec",
                    F.explode(F.expr(f"array({bands})")).alias("ck"),
                )
                .select("c_id", "c_vec", "ck.chunk", "ck.key")
            )
        banded = banded.withColumn(
            "kp", F.shiftright("key", width - prefix_bits)
        )
        banded.write.mode("overwrite").partitionBy("chunk", "kp").parquet(
            self._dir("banded")
        )
        self._write_small("meta", self.spark.createDataFrame(
            [(num_planes, chunks, width, dim, seed, n_flip, prefix_bits)],
            schema="num_planes int, chunks int, width int, dim int, "
                   "seed int, n_flip int, prefix_bits int",
        ))
        return self

    def append(
        self,
        new_vectors: DataFrame,
        id_col: str = "vec_id",
        vec_col: str = "embedding",
    ) -> None:
        """Absorb inserts: sketch the new rows with the STORED
        hyperplane config and append into the band partitions. Since
        the sketch is data-independent, an appended index is exactly
        the index a fresh build over the union would produce — no
        drift, no rebuild trigger (tested)."""
        from timescale_cdc_spark.operators.similarity import (
            _banded_arrow,
            _hyperplanes,
        )

        cfg = self.meta()
        planes = _hyperplanes(cfg["num_planes"], cfg["dim"], cfg["seed"])
        banded = _banded_arrow(
            new_vectors, "c", planes, cfg["chunks"], cfg["width"],
            id_col, vec_col,
        ).withColumn(
            "kp", F.shiftright("key", cfg["width"] - cfg["prefix_bits"])
        )
        banded.write.mode("append").partitionBy("chunk", "kp").parquet(
            self._dir("banded")
        )

    def banded(self) -> DataFrame:
        """LIVE banded rows ``(c_id, c_vec, key, chunk, kp)``; a
        deleted id drops out of every band at once."""
        return self._live("banded")

    def topk(self, queries: DataFrame, k: int = 5,
             id_col: str = "vec_id", vec_col: str = "embedding") -> DataFrame:
        """Approximate top-K from the persisted banded corpus: the
        (tiny) query side is sketched fresh with the stored config +
        multi-probe flips, joined against the stored home buckets, and
        exact cosine re-ranks the candidates — identical semantics to
        ``hyperplane_lsh_topk`` with the corpus sketch amortized away."""
        from timescale_cdc_spark.operators.similarity import (
            _banded_arrow,
            _hyperplanes,
            _lsh_rerank,
        )

        cfg = self.meta()
        planes = _hyperplanes(cfg["num_planes"], cfg["dim"], cfg["seed"])
        qb = _banded_arrow(
            queries, "q", planes, cfg["chunks"], cfg["width"],
            id_col, vec_col, cfg["n_flip"],
        ).withColumnsRenamed({"chunk": "q_chunk", "key": "q_key"})
        # Partition pruning needs literal (chunk, prefix) values at
        # planning time — collect the probed pairs (tiny: queries ×
        # bands × (1+n_flip)), exactly like IvfIndex collects probed
        # cells.
        shift = cfg["width"] - cfg["prefix_bits"]
        probed = (
            qb.select(
                "q_chunk", F.shiftright("q_key", shift).alias("kp")
            )
            .distinct()
            .collect()
        )
        by_chunk: dict[int, list[int]] = {}
        for r in probed:
            by_chunk.setdefault(r["q_chunk"], []).append(r["kp"])
        pred = F.lit(False)  # no queries → empty, not a full scan
        for c, kps in sorted(by_chunk.items()):
            pred = pred | (
                (F.col("chunk") == c) & F.col("kp").isin(sorted(kps))
            )
        cb = (
            self.banded()
            .filter(pred)
            .select("c_id", "c_vec", "chunk", "key")
            .withColumnsRenamed({"chunk": "c_chunk", "key": "c_key"})
        )
        return _lsh_rerank(cb, qb, k)


from timescale_cdc_spark.operators.bandstore import BandedIndexStore


class StreamingVectorDedup(BandedIndexStore):
    """Streaming embedding-dedup ingest gate: admit a vector only if
    no PREVIOUSLY admitted vector has cosine ≥ ``threshold`` — the
    embedding-space counterpart of curation.StreamingNearDedup (same
    persisted-index-over-foreachBatch architecture, same rationale:
    admitted-corpus bucket state belongs in storage, and replay
    idempotence comes from ignoring same-id matches, not partition
    provenance).

    Candidates come from the hyperplane band join (a pair must share
    ≥1 band bucket); verification is EXACT cosine, so every rejection
    is a true positive. A qualifying near-pair is missed only if it
    disagrees in every band — for cos ≥ 0.99 with the default
    96-bit/6×16-bit sketch that is ~2% per borderline pair and 0 for
    identical vectors. Band WIDTH is the candidate-fanout knob: the
    initial 4×8-bit configuration collided each incoming vector with
    ~index/256 per band, and the exact-verify cost made per-batch time
    grow 4×/batch at a 10k-batch soak; 16-bit buckets cut candidates
    ~250× and hold the per-batch curve flat (soak_gates.py numbers in
    SCALE.md).

    Index layout: ``ingest_batch=<b>/`` partition dirs of banded rows
    (c_id, c_vec, chunk, key); a replayed batch overwrites its own
    partition. ``compact()`` merges everything into one negative
    generation under ``_base/gen=<g>/chunk=<c>/kp=<p>`` (kp = key mod
    prefix_mod) — and from then on the per-batch lookup opens ONLY the
    (chunk, kp) leaf dirs the batch's own band keys hash into, exactly
    the bucket-pruned architecture of curation.StreamingNearDedup
    (see its docstring for the cost model and the losslessness
    argument; a matching (chunk, key) always lands in a touched
    (chunk, kp)).
    """

    def __init__(
        self,
        spark: SparkSession,
        index_path: str,
        id_col: str = "vec_id",
        vec_col: str = "embedding",
        threshold: float = 0.99,
        num_planes: int = 96,
        chunks: int = 6,
        dim: int = 64,
        seed: int = 42,
        prefix_mod: int | None = None,
        max_bucket: int | None = 256,
    ):
        self.spark = spark
        self.index_path = index_path.rstrip("/")
        self.id_col = id_col
        self.vec_col = vec_col
        self.threshold = threshold
        self.num_planes = num_planes
        self.chunks = chunks
        self.width = num_planes // chunks
        self.dim = dim
        self.seed = seed
        # Within-batch hot-bucket star cap — see StreamingNearDedup.
        # An identical-vector spam batch shares every band bucket;
        # star pairs around the bucket minimum all verify at cos=1,
        # so the whole cluster still collapses to its minimum.
        self.max_bucket = max_bucket
        # Base-store granularity for the NEXT compact(): dirs = chunks
        # × prefix_mod; existing generations keep their own recorded
        # modulus (per-gen _meta.json). None = auto-scale with corpus
        # size at compact time (~rows_per_leaf vectors per leaf), like
        # StreamingNearDedup.
        self.prefix_mod = prefix_mod
        self.rows_per_leaf = 64

    # storage/lookup layer: bandstore.BandedIndexStore hooks

    ID_COL = "c_id"
    KEY_COL = "chunk"
    HASH_COL = "key"
    PREFIX_COL = "kp"

    def _data_fields(self):
        from pyspark.sql import types as T

        return [
            T.StructField("c_id", T.LongType()),
            T.StructField("c_vec", T.ArrayType(T.FloatType())),
            T.StructField("chunk", T.IntegerType()),
            T.StructField("key", T.LongType()),
        ]

    def _n_groups(self) -> int:
        return self.chunks

    def _banded(self, df: DataFrame) -> DataFrame:
        from timescale_cdc_spark.operators.similarity import (
            _banded_arrow,
            _hyperplanes,
        )

        planes = _hyperplanes(self.num_planes, self.dim, self.seed)
        return _banded_arrow(
            df, "c", planes, self.chunks, self.width,
            self.id_col, self.vec_col,
        )

    def process_batch(self, batch_df: DataFrame, batch_id: int) -> DataFrame:
        """Admit one micro-batch; returns survivors and appends their
        banded sketches under this batch's partition (idempotent)."""
        from timescale_cdc_spark.operators.similarity import cosine

        # One sketch pass per batch (touched-collect, lookup, pairing
        # and the index write all reuse it; the count fills the cache
        # and yields the incoming size for the layout estimator).
        sigs = self._banded(batch_df).persist()
        n_in = sigs.count() // max(1, self.chunks)
        idx = self._lookup_index(sigs).withColumnsRenamed(
            {"c_id": "s_id", "c_vec": "s_vec"}
        )
        seen_hits = (
            sigs.join(idx, ["chunk", "key"])
            .filter(
                (F.col("c_id") != F.col("s_id"))
                & (F.round(cosine("c_vec", "s_vec"), 4)
                   >= self.threshold)
            )
            .select(F.col("c_id").alias(self.id_col))
            .distinct()
        )
        # Within-batch pairs via the shared star-capped candidate
        # generator (dedup._banded_candidates) — an uncapped self-join
        # goes O(f²) in one task on an identical-vector spam batch.
        from timescale_cdc_spark.operators.dedup import _banded_candidates

        batch_drops = (
            _banded_candidates(
                sigs.withColumnsRenamed({"c_id": "_id"}),
                ["chunk", "key"],
                "c_vec",
                self.max_bucket,
            )
            .filter(
                F.round(cosine("pa", "pb"), 4)
                >= self.threshold
            )
            .select(F.col("id_b").alias(self.id_col))
            .distinct()
        )
        survivors = batch_df.join(
            seen_hits.unionByName(batch_drops).distinct(),
            self.id_col,
            "left_anti",
        # pinned BEFORE the index write: a replay's lookup plan reads
        # the partition the write replaces (see StreamingNearDedup)
        ).localCheckpoint(eager=True)
        (
            sigs.join(
                survivors.select(F.col(self.id_col).alias("c_id")), "c_id"
            )
            .write.mode("overwrite")
            .parquet(f"{self.index_path}/ingest_batch={batch_id}")
        )
        self._write_batch_meta(batch_id, n_in)
        sigs.unpersist()
        return survivors

    def attach(self, vec_stream: DataFrame, survivors_path: str,
               checkpoint: str):
        """Wire the gate into a stream (foreachBatch, availableNow-
        compatible): survivors land under per-batch partitions with
        idempotent replace — mirrors StreamingNearDedup.attach."""

        def _sink(batch_df: DataFrame, batch_id: int) -> None:
            survivors = self.process_batch(batch_df, batch_id)
            survivors.write.mode("overwrite").parquet(
                f"{survivors_path}/ingest_batch={batch_id}"
            )

        return (
            vec_stream.writeStream.foreachBatch(_sink)
            .option("checkpointLocation", checkpoint)
            .start()
        )

    # compact() is inherited from BandedIndexStore: merge per-batch
    # dirs (+ prior gen) into one (chunk, kp)-partitioned generation.
