"""Tier C queries (SURVEY.md §2 C1-C5): dedup / similarity / text /
multimodal over the documents+embeddings fixtures.

The fixture corpus has NO natural duplicates (500 distinct texts,
uniformly random unit vectors), so dedup/similarity queries plant
deterministic duplicates inside the query (union with perturbed
copies keyed off id arithmetic) — both the Spark side and the oracle
build the identical planted corpus, and the operator must find
exactly the planted structure.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from timescale_cdc_spark.functions.ident import sql_qualified
from timescale_cdc_spark.operators.dedup import (
    _affine_params,
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
)
from timescale_cdc_spark.operators.multimodal import attach_payload, extract_features
from timescale_cdc_spark.operators.similarity import (
    brute_force_topk,
    embedding_dup_pairs,
    hyperplane_lsh_topk,
    ivf_topk,
)
from timescale_cdc_spark.operators.text import (
    LANG_PROFILES,
    PII_PATTERNS,
    PII_TOKENS,
    fingerprint,
    language_scores,
    quality_score,
    token_stats,
    trunc6,
)
from timescale_cdc_spark.queries.base import register, scratch_path, t

# Shared planted-corpus builders -------------------------------------------

PLANT_DOCS_SQL = """
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 100000 AS doc_id, text FROM documents WHERE doc_id % 10 = 0
"""


def _planted_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = t(spark, sf_dir, "documents").select("doc_id", "text")
    copies = (
        docs.filter(F.col("doc_id") % 10 == 0)
        .withColumn("doc_id", F.col("doc_id") + 100000)
    )
    return docs.unionByName(copies)


# CORRECTNESS CONTRACT (c3_embedding_dup_pairs): the registered Spark
# plan finds pairs via hyperplane-LSH candidates + EXACT cosine verify,
# while the oracle is the exact all-pairs definition. These agree only
# because every >=0.99 pair in this corpus is a planted IDENTICAL copy
# (identical vectors share every sketch band, so LSH recall is 1.0 for
# them by construction). The fixture embeddings are random enough that
# organic near-but-not-identical pairs at cos>=0.99 do not occur at the
# tested SFs — a borderline non-identical pair has a ~1.3%/pair chance
# of missing every band. If the fixture changes, re-check that
# invariant before trusting the hash match.
PLANT_VECS_SQL = """
  SELECT vec_id, embedding FROM embeddings
  UNION ALL
  SELECT vec_id + 100000 AS vec_id, embedding FROM embeddings WHERE vec_id % 50 = 0
"""


def _planted_vecs(spark: SparkSession, sf_dir: str) -> DataFrame:
    vecs = t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    copies = (
        vecs.filter(F.col("vec_id") % 50 == 0)
        .withColumn("vec_id", F.col("vec_id") + 100000)
    )
    return vecs.unionByName(copies)


# --------------------------------------------------------------------------
# C1 exact dedup (keep-first + dup-group audit in one result)
# --------------------------------------------------------------------------


@register(
    "c1_dedup_exact",
    f"""
    WITH corpus AS ({PLANT_DOCS_SQL}),
    r AS (
      SELECT doc_id, text,
             ROW_NUMBER() OVER (PARTITION BY text ORDER BY doc_id) AS rn,
             COUNT(*) OVER (PARTITION BY text) AS n_copies
      FROM corpus
    )
    SELECT doc_id, length(text) AS n_chars, n_copies FROM r WHERE rn = 1
    """,
)
def c1_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C1 exact dedup + dup-group audit in one pass: planted copies
    collapse back to the original (lowest doc_id) via content-keyed
    keep-first (operators/dedup.py::exact_dedup machinery — sha2
    content hash is the production shuffle key; text partitioning here
    is value-identical for the window), with each keeper carrying its
    group size (n_copies > 1 ⇔ the audit view of exact dedup). One
    shuffle on the content key — the 100 TB shape."""
    corpus = _planted_docs(spark, sf_dir)
    # Same machinery as exact_dedup(), plus the group-size audit
    # column (count over the same partition — shares one shuffle).
    key = F.sha2(F.col("text"), 256)
    w_first = Window.partitionBy(key).orderBy("doc_id")
    w_all = Window.partitionBy(key)
    return (
        corpus.withColumn("_rn", F.row_number().over(w_first))
        .withColumn("n_copies", F.count("*").over(w_all))
        .filter(F.col("_rn") == 1)
        .select("doc_id", F.length("text").alias("n_chars"), "n_copies")
    )


# --------------------------------------------------------------------------
# C2 near-dup: n-gram Jaccard (oracle), MinHash-LSH + SimHash (rows-only)
# --------------------------------------------------------------------------


#: DF-pruning cap for the registered n-gram Jaccard query: shingles in
#: more than this many docs are excluded from candidate BLOCKING (their
#: O(df²) join fan-out is the classic hot-key blowup) but still counted
#: exactly at verification. Chosen to be ACTIVE at sf0.1 (243 shingles
#: exceed it, max df 29) and inert at sf0.01 (max df 9) — the oracle
#: below implements the identical semantics, so both SFs hash-match.
NGRAM_MAX_DF = 20

#: Hot-bucket star-pairing cap for the registered sketch queries
#: (VERDICT r4 #8): pass the production skew guard through the driver
#: path every round, not only in soak_hotkey.py. 256 is the curation
#: default (operators/curation.py); the fixture corpora's largest band
#: bucket is far below it, so the guard is exercised but inert —
#: c2_minhash_simhash's row count is unchanged (pinned in
#: tests/test_operators.py::test_c2_registered_row_count_with_guard).
SKETCH_MAX_BUCKET = 256


@register(
    "c2_ngram_jaccard",
    f"""
    WITH corpus AS ({PLANT_DOCS_SQL}),
    w AS (SELECT doc_id, string_split(text, ' ') AS words FROM corpus),
    sh AS (
      SELECT DISTINCT doc_id,
             concat_ws(' ', words[i], words[i+1], words[i+2]) AS shingle
      FROM w, UNNEST(generate_series(1, greatest(len(words) - 2, 1))) AS t(i)
    ),
    dfreq AS (SELECT shingle, COUNT(*) AS c FROM sh GROUP BY shingle),
    rare AS (
      SELECT s.doc_id, s.shingle
      FROM sh s JOIN dfreq d ON s.shingle = d.shingle AND d.c <= {NGRAM_MAX_DF}
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM rare a JOIN rare b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_common
      FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT i.id_a, i.id_b,
           floor(CAST(n_common AS DOUBLE) / (sa.n + sb.n - n_common) * 1000000) / 1000000 AS jaccard
    FROM inter i
    JOIN cand c ON c.id_a = i.id_a AND c.id_b = i.id_b
    JOIN sizes sa ON sa.doc_id = i.id_a
    JOIN sizes sb ON sb.doc_id = i.id_b
    WHERE CAST(n_common AS DOUBLE) / (sa.n + sb.n - n_common) >= 0.8
    """,
)
def c2_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C2 exact n-gram Jaccard near-dup pairs over the planted corpus:
    word-3-gram shingles, shingle-blocked candidates (never all-pairs),
    exact |∩|/|∪| ≥ 0.8 (operators/dedup.py::ngram_jaccard_pairs).

    DF-pruned blocking (max_df=20): ubiquitous shingles never enter the
    candidate join — bounded hot-key fan-out at scale — yet every
    surviving pair's Jaccard is EXACT (pruned shingles re-counted from
    per-doc ubiquitous arrays at verify). The oracle encodes the same
    semantics: candidates from rare shingles only (``cand``),
    intersection over the full shingle sets (``inter``)."""
    corpus = _planted_docs(spark, sf_dir)
    return ngram_jaccard_pairs(
        corpus, "text", "doc_id", shingle_n=3, threshold=0.8, max_df=NGRAM_MAX_DF
    )


# -- c2_minhash_simhash hard oracle (round 15, VERDICT r14 #3) -------------
#
# With portable=True the sketch lane inputs are the sampling.det_hash
# 60-bit sha256 construction (dedup._PORTABLE_WORD_HASH_SQL), and
# everything downstream — the 31-bit shingle mask, the 64 affine
# min-folds mod 2^31-1, the SimHash vote folds, banding, hamming —
# is integer/IEEE arithmetic DuckDB evaluates bit-identically. The
# oracle below re-walks the ENTIRE pipeline in SQL: word hashes →
# shingle hashes → per-lane signatures → band-key candidates WITH the
# hot-bucket star-pairing guard (buckets over SKETCH_MAX_BUCKET pair
# every member with the bucket minimum only — and the guard is
# genuinely ACTIVE at sf0.1: the portable hash zeroes fingerprint
# bits 60-63, shrinking simhash chunk 3's key space 16× and pushing
# one bucket to ~300 docs, so the oracle verifies the guard's exact
# semantics rather than pinning it inert) → estimate filter → the
# exact-similarity verification gate. Two deliberate oracle-side
# simplifications, both exact for this corpus:
# (a) band-bucket equality is tested on the band's ordered lane
#     TUPLE, not on Spark's xxhash64 bucket value — identical tuples
#     hash equal, so the two differ only on an xxhash64 collision
#     between distinct tuples (deterministic for the fixture; the
#     hash match itself would expose one);
# (b) the verification gate's exact Jaccard runs over STRING
#     shingle/token sets where the Spark plan uses xxhash64-hashed
#     sets (a shuffle-width optimization, r13) — equal modulo
#     in-doc 64-bit hash collisions (~4e-15/pair).

#: the 64 (a, b) affine lane parameters, shared literally with the
#: Spark plan (same _affine_params(64) call the lane SQL splices)
_MH_PARAMS_VALUES = ", ".join(
    f"({i + 1}, {a}, {b})"
    for i, (a, b) in enumerate(_affine_params(64))
)

#: DuckDB text of the portable 60-bit word hash (bit-parity with
#: dedup._PORTABLE_WORD_HASH_SQL is the det_hash contract proven by
#: the split/sample oracles)
_DK_WORD_HASH = "CAST(('0x' || substr(sha256(x), 1, 15)) AS BIGINT)"


def _dk_shingle_hash(i: str) -> str:
    """DuckDB text of the portable 3-word shingle hash at 0-based
    position ``i`` over the word-hash list ``hw`` (1-based list
    indexing; out-of-range → NULL → chr(30) sentinel, exactly the
    Spark try_element_at/coalesce chain)."""
    parts = ", ".join(
        f"coalesce(CAST(hw[{i} + {j}] AS VARCHAR), chr(30))"
        for j in (1, 2, 3)
    )
    return (
        f"CAST(('0x' || substr(sha256(concat_ws(chr(31), {parts})), "
        f"1, 15)) AS BIGINT) & 2147483647"
    )


C2_SKETCH_ORACLE_SQL = f"""
    WITH corpus AS ({PLANT_DOCS_SQL}),
    w AS (
      SELECT doc_id, string_split(text, ' ') AS words
      FROM corpus WHERE text IS NOT NULL
    ),
    hw AS (
      SELECT doc_id,
             list_transform(words, x -> {_DK_WORD_HASH}) AS hw
      FROM w
    ),
    sh3 AS (
      SELECT doc_id, {_dk_shingle_hash('i')} AS hs
      FROM hw, UNNEST(generate_series(0, greatest(len(hw) - 3, 0))) AS t(i)
    ),
    params(lane, a, b) AS (VALUES {_MH_PARAMS_VALUES}),
    sig AS (
      SELECT s.doc_id, p.lane,
             min((s.hs * p.a + p.b) % 2147483647) AS m
      FROM sh3 s CROSS JOIN params p
      GROUP BY 1, 2
    ),
    bandkey AS (
      SELECT doc_id, (lane - 1) // 4 AS band,
             string_agg(CAST(m AS VARCHAR), ',' ORDER BY lane) AS key
      FROM sig GROUP BY doc_id, (lane - 1) // 4
    ),
    bandstat AS (
      SELECT doc_id, band, key,
             COUNT(*) OVER (PARTITION BY band, key) AS bsz,
             min(doc_id) OVER (PARTITION BY band, key) AS bmin
      FROM bandkey
    ),
    mcand AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b
      FROM bandstat a JOIN bandstat b
        ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id
           AND a.bsz <= {SKETCH_MAX_BUCKET}
      UNION
      SELECT bmin AS id_a, doc_id AS id_b
      FROM bandstat
      WHERE bsz > {SKETCH_MAX_BUCKET} AND doc_id <> bmin
    ),
    mpairs AS (
      SELECT c.id_a, c.id_b,
             CAST(count(*) FILTER (WHERE sa.m = sb.m) AS DOUBLE) / 64.0
               AS score
      FROM mcand c
      JOIN sig sa ON sa.doc_id = c.id_a
      JOIN sig sb ON sb.doc_id = c.id_b AND sb.lane = sa.lane
      GROUP BY 1, 2
      HAVING CAST(count(*) FILTER (WHERE sa.m = sb.m) AS DOUBLE) / 64.0
             >= 0.5
    ),
    tok AS (SELECT doc_id, unnest(hw) AS h FROM hw),
    vote AS (
      SELECT tok.doc_id, t.j,
             sum(CASE WHEN (tok.h >> t.j) & 1 = 1 THEN 1 ELSE -1 END) AS v
      FROM tok, UNNEST(generate_series(0, 59)) AS t(j)
      GROUP BY 1, 2
    ),
    fp AS (
      SELECT doc_id,
             CAST(sum(CASE WHEN v > 0
                  THEN (CAST(1 AS BIGINT) << j) ELSE 0 END) AS BIGINT)
               AS fp
      FROM vote GROUP BY doc_id
    ),
    ck AS (
      SELECT f.doc_id, f.fp, t.c, (f.fp >> (16 * t.c)) & 65535 AS key
      FROM fp f, UNNEST(generate_series(0, 3)) AS t(c)
    ),
    ckstat AS (
      SELECT doc_id, fp, c, key,
             COUNT(*) OVER (PARTITION BY c, key) AS bsz,
             min(doc_id) OVER (PARTITION BY c, key) AS bmin
      FROM ck
    ),
    scand AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b
      FROM ckstat a JOIN ckstat b
        ON a.c = b.c AND a.key = b.key AND a.doc_id < b.doc_id
           AND a.bsz <= {SKETCH_MAX_BUCKET}
      UNION
      SELECT bmin AS id_a, doc_id AS id_b
      FROM ckstat
      WHERE bsz > {SKETCH_MAX_BUCKET} AND doc_id <> bmin
    ),
    spairs AS (
      SELECT DISTINCT c.id_a, c.id_b,
             CAST(bit_count(xor(fa.fp, fb.fp)) AS DOUBLE) AS score
      FROM scand c
      JOIN fp fa ON fa.doc_id = c.id_a
      JOIN fp fb ON fb.doc_id = c.id_b
      WHERE bit_count(xor(fa.fp, fb.fp)) <= 3
    ),
    sh_str AS (
      SELECT DISTINCT doc_id,
             concat_ws(' ', words[i], words[i+1], words[i+2]) AS s
      FROM w, UNNEST(generate_series(1, greatest(len(words) - 2, 1))) AS t(i)
    ),
    szs AS (SELECT doc_id, COUNT(*) AS n FROM sh_str GROUP BY doc_id),
    tk_str AS (
      SELECT DISTINCT doc_id, tkn
      FROM (SELECT doc_id, unnest(words) AS tkn FROM w)
    ),
    szt AS (SELECT doc_id, COUNT(*) AS n FROM tk_str GROUP BY doc_id),
    mcommon AS (
      SELECT x.doc_id AS id_a, y.doc_id AS id_b, COUNT(*) AS common
      FROM sh_str x JOIN sh_str y ON x.s = y.s AND x.doc_id < y.doc_id
      GROUP BY 1, 2
    ),
    scommon AS (
      SELECT x.doc_id AS id_a, y.doc_id AS id_b, COUNT(*) AS common
      FROM tk_str x JOIN tk_str y ON x.tkn = y.tkn AND x.doc_id < y.doc_id
      GROUP BY 1, 2
    )
    SELECT 'minhash' AS method, p.id_a, p.id_b, p.score
    FROM mpairs p
    JOIN szs sa ON sa.doc_id = p.id_a
    JOIN szs sb ON sb.doc_id = p.id_b
    LEFT JOIN mcommon c ON c.id_a = p.id_a AND c.id_b = p.id_b
    WHERE abs(p.score - CAST(coalesce(c.common, 0) AS DOUBLE)
              / (sa.n + sb.n - coalesce(c.common, 0))) <= 0.2
    UNION ALL
    SELECT 'simhash' AS method, p.id_a, p.id_b, p.score
    FROM spairs p
    JOIN szt sa ON sa.doc_id = p.id_a
    JOIN szt sb ON sb.doc_id = p.id_b
    LEFT JOIN scommon c ON c.id_a = p.id_a AND c.id_b = p.id_b
    WHERE CAST(coalesce(c.common, 0) AS DOUBLE)
          / (sa.n + sb.n - coalesce(c.common, 0)) >= 0.5
"""


@register("c2_minhash_simhash", C2_SKETCH_ORACLE_SQL)
def c2_minhash_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C2 sketch-based near-dup pairs, both families tagged in one
    result:

    - method='minhash': MinHash-LSH — 64 hashes, 16 bands × 4,
      S-curve threshold ≈ 0.5; score = estimated Jaccard.
    - method='simhash': 64-bit SimHash fingerprints, 4 × 16-bit
      pigeonhole bands, hamming ≤ 3; score = hamming distance.

    Both are bucketed (never all-pairs) with all signature math in
    JVM codegen — the 100 TB shapes.

    HARD-ORACLE (round 15, VERDICT r14 #3 — previously rows-only
    since round 4): the entry runs the sketches in ``portable=True``
    mode (sha256-based det_hash lanes, dedup.py), so the DuckDB
    oracle re-derives the full pipeline — signatures, banding,
    candidates, estimates, and the verification gate — and the
    driver hash-checks every emitted pair. The production default
    stays xxhash64 (dedup.py's portable note has the cost A/B).

    The IN-PLAN verification gate (round 4, VERDICT r3 #2) remains
    part of the result semantics: each emitted pair is verified
    against the exact similarity it estimates — minhash pairs must
    have |jaccard_est − exact 3-gram Jaccard| ≤ 0.2 (3σ for 64 hashes
    at j=0.5 is ~0.19), simhash pairs must have exact unigram-set
    Jaccard ≥ 0.5 — and the oracle applies the identical gate.
    Planted-pair recall is additionally asserted in
    tests/test_operators.py.

    (SemDeDup's driver rows live in ``c2_streaming_near_dedup`` — this
    entry is in the headline bench, and the KMeans fit + gate joins
    would triple its cost for coverage the cheaper entry carries.)

    Verify shape (round 10, VERDICT r9 #2): round 9 featurized
    (shingles + token sets) and localCheckpointed the ENTIRE corpus,
    then ran FOUR feature-attach joins (two per method) — the
    full-corpus materialization alone profiled at ~3.4 s of the ~8 s
    entry and was the real residual behind the r8→r9 growth the
    verdict flagged (the rest was host drift, see BENCH_r10
    coverage_notes). Now the candidate pairs are melted to
    (pair, role∈{a,b}, doc_id) rows and joined ONCE (shuffle-hash on
    doc_id) against the in-plan featurized corpus — featurization
    runs once, map-side, nothing materialized — then a groupBy over
    the ~2|pairs| joined rows reassembles both sides' features via
    any_value. One consumption of the sketch pipelines (their
    ShuffledHashJoin band joins stay visible in the audited plan),
    one equi-join, one small shuffle — and the join is the shape
    that survives 100 TB, where the corpus can neither broadcast nor
    checkpoint.

    Round 13 (VERDICT r12 #1 re-profile): both sketch fronts became
    zero-shuffle per-doc array folds (see minhash_signatures), lane
    expressions became SQL-side loops (~10 KB of per-invocation parse
    text → ~1 KB), and the verify features became 64-bit HASHED
    shingle/token sets (xxhash64-combined word hashes — the arrays the
    join shuffles shrink from strings to longs; collision odds per
    pair ~4e-15, far below the 1969-row count's sensitivity). A
    unified one-shuffle variant serving both families from one banded
    exchange was built and REJECTED on measurement — see SCALE.md
    (sketch-pairs A/B)."""
    # portable=True (round 15, VERDICT r14 #3): the registered entry
    # runs the sha256 parity lanes so the driver's hard oracle can
    # re-derive every pair; production callers keep the xxhash64
    # default (1.8× cheaper pairs pipeline at sf0.1 — A/B in
    # SCALE.md; the entry's bench row carries the delta as a
    # coverage note).
    return _c2_sketch_pairs(spark, sf_dir, portable=True)


def c2_minhash_production(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SAME sketch-pairs pipeline as :func:`c2_minhash_simhash`
    but with the production xxhash64 lanes (``portable=False`` — the
    default every non-oracle caller uses). NOT registered: DuckDB has
    no xxhash64, so this variant cannot be hash-checked; the
    registered entry keeps the sha256 parity lanes and full oracle
    coverage. bench.py times this one alongside it (round 16, VERDICT
    r15 #5b) so the ~2 s cryptographic-hash tax of the oracle contract
    stops masking the production path's speed in PERF."""
    return _c2_sketch_pairs(spark, sf_dir, portable=False)


def _c2_sketch_pairs(
    spark: SparkSession, sf_dir: str, portable: bool
) -> DataFrame:
    """Shared body of the two variants above — identical plan modulo
    the hash family inside the sketch lanes."""
    from timescale_cdc_spark.operators.dedup import (
        minhash_lsh_pairs,
        simhash_pairs,
    )

    corpus = _planted_docs(spark, sf_dir).localCheckpoint()
    pairs = (
        minhash_lsh_pairs(corpus, "text", "doc_id", threshold=0.5,
                          max_bucket=SKETCH_MAX_BUCKET, portable=portable)
        .select(
            F.lit("minhash").alias("method"),
            "id_a",
            "id_b",
            F.col("jaccard_est").cast("double").alias("score"),
        )
        .unionByName(
            simhash_pairs(corpus, "text", "doc_id", max_hamming=3,
                          max_bucket=SKETCH_MAX_BUCKET,
                          portable=portable).select(
                F.lit("simhash").alias("method"),
                "id_a",
                "id_b",
                F.col("hamming").cast("double").alias("score"),
            )
        )
    )
    melted = pairs.select(
        "method",
        "id_a",
        "id_b",
        "score",
        F.explode(
            F.array(
                F.struct(
                    F.lit("a").alias("role"), F.col("id_a").alias("doc_id")
                ),
                F.struct(
                    F.lit("b").alias("role"), F.col("id_b").alias("doc_id")
                ),
            )
        ).alias("_e"),
    ).select("method", "id_a", "id_b", "score", "_e.role", "_e.doc_id")
    # 64-bit hashed feature sets (round 13): Jaccard over xxhash64'd
    # shingles/tokens instead of the string arrays — the attach join
    # shuffles fixed-width longs, not text. UNMASKED 64-bit hashes
    # (unlike the sketch's 31-bit masked lanes): at ~400 distinct
    # shingles per pair the 31-bit space gives ~4e-5 collision odds
    # per pair (a borderline row could flip between runs of different
    # corpora); 64-bit gives ~4e-15. _hw gets its own select so
    # CollapseProject keeps one split per doc (SPARK-36718).
    feats = corpus.select(
        "doc_id",
        F.expr(
            r"transform(split(text, '\\s+'), w -> xxhash64(w))"
        ).alias("_hw"),
    ).select(
        "doc_id",
        F.expr(
            # try_element_at: ANSI-safe past-the-end NULLs on docs
            # shorter than the shingle width (ADVICE r13, matches
            # dedup._shingle_hash_sql)
            "array_distinct(transform(sequence(0, greatest(size(_hw) - 3, 0)), "
            "i -> xxhash64(try_element_at(_hw, i+1), try_element_at(_hw, i+2), "
            "try_element_at(_hw, i+3))))"
        ).alias("sh"),
        F.array_distinct("_hw").alias("tk"),
    )
    attached = (
        melted.hint("shuffle_hash")
        .join(feats.hint("shuffle_hash"), "doc_id")
        .groupBy("method", "id_a", "id_b", "score")
        .agg(
            F.expr("any_value(CASE WHEN role = 'a' THEN sh END, true)")
            .alias("_sha"),
            F.expr("any_value(CASE WHEN role = 'b' THEN sh END, true)")
            .alias("_shb"),
            F.expr("any_value(CASE WHEN role = 'a' THEN tk END, true)")
            .alias("_tka"),
            F.expr("any_value(CASE WHEN role = 'b' THEN tk END, true)")
            .alias("_tkb"),
        )
    )
    exact_sh = F.size(F.array_intersect("_sha", "_shb")) / F.size(
        F.array_union("_sha", "_shb")
    )
    exact_tk = F.size(F.array_intersect("_tka", "_tkb")) / F.size(
        F.array_union("_tka", "_tkb")
    )
    # CASE short-circuits in codegen: each pair computes only its own
    # method's exact metric, same per-pair work as the split branches
    keep = F.when(
        F.col("method") == "minhash",
        F.abs(F.col("score") - exact_sh) <= 0.2,
    ).otherwise(exact_tk >= 0.5)
    return attached.where(keep).select("method", "id_a", "id_b", "score")


#: SemDeDup planting/gate constants (method='semdedup' rows)
SEMDEDUP_EPS = 0.95
SEMDEDUP_COPY_OFFSET = 1_000_000
SEMDEDUP_COPY_STRIDE = 50


def _semdedup_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """method='semdedup' rows for :func:`c2_streaming_near_dedup` —
    kept vectors from SemDeDup (operators/semdedup.py, VERDICT r8 #2)
    over the embeddings table ∪ one planted ε-near copy per 50 ids
    (component bump, cos ≥ 0.99875 with its original by construction):
    one row per KEPT vector ``(method, id_a=vec_id, id_b=cluster cell,
    score=centroid cosine)``. Two in-plan gates zero the rows on
    regression (the broadcast-count pattern), so the driver's
    rows-only count is an accuracy signal: (a) every planted
    (original, copy) group must keep EXACTLY one member; (b) every
    dropped id must have a same-cell higher-ranked witness at cosine
    ≥ eps, re-derived through an independently-written rank join
    (catches marks-assembly bugs, not just clustering drift)."""
    from timescale_cdc_spark.operators.semdedup import semantic_dedup_marks
    from timescale_cdc_spark.operators.similarity import cosine

    emb = t(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.col("embedding").cast("array<double>").alias("embedding"),
    )
    bumped = F.transform(
        F.col("embedding"),
        lambda x, i: F.when(i == 0, x + F.lit(0.05)).otherwise(x),
    )
    copies = emb.filter(
        F.col("vec_id") % SEMDEDUP_COPY_STRIDE == 0
    ).select(
        (F.col("vec_id") + SEMDEDUP_COPY_OFFSET).alias("vec_id"),
        bumped.alias("embedding"),
    )
    union = emb.unionByName(copies)
    # sample_fraction=None: fixture-scale corpus, skip the auto-count
    # (the 'auto' sampled fit is the production default)
    marks = semantic_dedup_marks(
        union,
        eps=SEMDEDUP_EPS,
        n_clusters=8,
        id_col="vec_id",
        vec_col="embedding",
        keep="far",
        sample_fraction=None,
        seed=7,
    ).localCheckpoint()  # pin: reused by both gates + the row emit

    planted_orig = (F.col("vec_id") % SEMDEDUP_COPY_STRIDE == 0) & (
        F.col("vec_id") < SEMDEDUP_COPY_OFFSET
    )
    pg = (
        marks.where((F.col("vec_id") >= SEMDEDUP_COPY_OFFSET) | planted_orig)
        .withColumn(
            "g",
            F.when(
                F.col("vec_id") >= SEMDEDUP_COPY_OFFSET,
                F.col("vec_id") - SEMDEDUP_COPY_OFFSET,
            ).otherwise(F.col("vec_id")),
        )
        .groupBy("g")
        .agg(F.sum(F.col("kept").cast("int")).alias("kn"))
    )
    viol_planted = pg.where(F.col("kn") != 1).agg(
        F.count("*").alias("n_viol_planted")
    )

    # witness gate: rank re-derived from (cent_cos, id) — independent
    # of the row_number the operator used internally
    mv = marks.join(union, "vec_id")
    a = mv.where(~F.col("kept")).alias("a")
    b = mv.alias("b")
    higher = (F.col("b.cent_cos") < F.col("a.cent_cos")) | (
        (F.col("b.cent_cos") == F.col("a.cent_cos"))
        & (F.col("b.vec_id") < F.col("a.vec_id"))
    )
    witnessed = (
        a.join(b, (F.col("a._cell") == F.col("b._cell")) & higher)
        .where(
            cosine(
                sql_qualified("a", "embedding"),
                sql_qualified("b", "embedding"),
            )
            >= SEMDEDUP_EPS
        )
        .select(F.col("a.vec_id"))
        .distinct()
    )
    viol_witness = (
        marks.where(~F.col("kept"))
        .join(witnessed, "vec_id", "left_anti")
        .agg(F.count("*").alias("n_unwitnessed"))
    )

    return (
        marks.where("kept")
        .crossJoin(F.broadcast(viol_planted))
        .crossJoin(F.broadcast(viol_witness))
        .where(
            (F.col("n_viol_planted") == 0) & (F.col("n_unwitnessed") == 0)
        )
        .select(
            F.lit("semdedup").alias("method"),
            F.col("vec_id").alias("id_a"),
            F.col("_cell").cast("long").alias("id_b"),
            F.col("cent_cos").cast("double").alias("score"),
        )
    )


#: curate() planting arithmetic (method='curate' rows, round 10)
CURATE_EVAL_MOD = 31
CURATE_JUNK_MOD = 41
CURATE_EXACT_MOD = 10
CURATE_NEAR_MOD = 7
CURATE_SEM_MOD = 13
CURATE_EXACT_OFF = 100_000
CURATE_NEAR_OFF = 200_000
CURATE_JUNK_OFF = 300_000
CURATE_CONTAM_OFF = 400_000
CURATE_SEM_OFF = 500_000
#: round 11: duplicated-span pair plants — for every
#: CURATE_SUBSTR_MOD-th base doc, TWO new docs at +A/+B offsets embed
#: its text as a shared span behind different per-member noise.
CURATE_SUBSTR_MOD = 17
CURATE_SUBSTR_A_OFF = 700_000
CURATE_SUBSTR_B_OFF = 800_000
#: round 12 (VERDICT r11 #3): per-source cap plants — every
#: CURATE_SRC_MOD-th base doc spawns a new doc with unique synthetic
#: text, ALL sharing one source; every other doc's source is its own
#: id, so the cap stage must cut exactly the planted source to
#: CURATE_SRC_CAP. URL-dup plants — every CURATE_URL_MOD-th base doc
#: spawns a doc with unique text whose URL is a scheme/www/tracking/
#: fragment VARIANT of the base doc's (only normalize_url can see the
#: collision).
CURATE_SRC_MOD = 11
CURATE_SRC_OFF = 900_000
CURATE_SRC_CAP = 5
CURATE_URL_MOD = 19
CURATE_URL_OFF = 1_000_000

#: drop_reason → stage code for the emitted rows (kept = 0)
_CURATE_STAGE = {
    "quality": 1,
    "contaminated": 2,
    "exact_dup": 3,
    "near_dup": 4,
    "semantic_dup": 5,
    "substr_dup": 6,
    "source_capped": 7,
    "url_dup": 8,
}


def _curate_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """method='curate' rows (round 10, VERDICT r9 #6): the FULL
    curation pipeline (operators/curation.py::curate — quality →
    decontaminate → exact dedup → near dedup → semantic dedup →
    token accounting) driven end-to-end over a corpus with one
    planted group per stage, so the composition's regression is
    driver-visible every round, not only its units:

    - junk docs ('x x', +300000) must drop as 'quality';
    - eval-prefixed copies (+400000) must not survive (decontam);
    - identical copies (+100000) — at most one of each pair kept AND
      zero identical-text pairs among ALL kept docs;
    - suffixed near copies (+200000) — zero detector pairs among the
      kept set (the same deterministic MinHash detector re-run on the
      survivors, the stream-gate invariant);
    - same-embedding lexically-shuffled copies (+500000) — at most
      one of each pair kept (SemDeDup stage);
    - duplicated-span pairs (+700000/+800000, round 11): two docs
      embedding the SAME base doc's text as a shared span behind
      different noise — below the near-dup threshold's reach because
      the substr stage runs first; every planted member must drop as
      'substr_dup' (the Gopher duplicated-content filter measured by
      dedup_substrings);
    - an over-represented source (+900000, round 12): unique-text
      docs all sharing ONE source while every other doc's source is
      singleton — the per-source cap stage must keep EXACTLY
      CURATE_SRC_CAP of them (the deterministic reservoir) and tag
      the rest 'source_capped'; no other stage can touch them;
    - URL re-crawls (+1000000, round 12): unique-text docs whose URL
      normalizes to an existing doc's URL (scheme/www/tracking-param/
      fragment variants) — invisible to every content stage; each
      must drop as 'url_dup' with the lower-id original surviving the
      URL stage;
    - conservation: exactly one verdict row per input doc, kept rows
      carry no drop_reason, dropped rows carry one.

    ANY violation zeroes the method's rows (broadcast-count gates), so
    the driver's rows-only count is a pipeline-composition signal.
    Emitted row per doc: id_a = doc_id, id_b = stage code (0 kept,
    1 quality, 2 contaminated, 3 exact, 4 near, 5 semantic,
    6 substr, 7 source_capped, 8 url_dup), score = surviving
    ws_tokens (0 for dropped)."""
    from timescale_cdc_spark.operators.curation import (
        curate,
        release_curate_caches,
    )
    from timescale_cdc_spark.operators.dedup import minhash_lsh_pairs

    # ADVICE r10: previous calls' stage-boundary persists are dead by
    # the time this entry is re-invoked (bench passes, repeated driver
    # runs) — release them so a long session doesn't accumulate
    # MEMORY_AND_DISK entries. This call's own persists register anew.
    release_curate_caches()

    docs = t(spark, sf_dir, "documents").select("doc_id", "text")
    eval_docs = docs.filter(F.col("doc_id") % CURATE_EVAL_MOD == 0)
    base = docs.filter(F.col("doc_id") % CURATE_EVAL_MOD != 0)
    junk = base.filter(F.col("doc_id") % CURATE_JUNK_MOD == 0).select(
        (F.col("doc_id") + CURATE_JUNK_OFF).alias("doc_id"),
        F.lit("x x").alias("text"),
    )
    contam = eval_docs.select(
        (F.col("doc_id") + CURATE_CONTAM_OFF).alias("doc_id"),
        F.concat(F.lit("curate probe "), F.col("text")).alias("text"),
    )
    exact = base.filter(F.col("doc_id") % CURATE_EXACT_MOD == 0).select(
        (F.col("doc_id") + CURATE_EXACT_OFF).alias("doc_id"), "text"
    )
    near = base.filter(F.col("doc_id") % CURATE_NEAR_MOD == 0).select(
        (F.col("doc_id") + CURATE_NEAR_OFF).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" qq ww ee rr tt")).alias("text"),
    )
    # lexically disjoint from the original (reversed word order) but
    # with the SAME embedding → only the semantic stage can catch it
    sem = base.filter(F.col("doc_id") % CURATE_SEM_MOD == 0).select(
        (F.col("doc_id") + CURATE_SEM_OFF).alias("doc_id"),
        F.concat_ws(
            " ", F.reverse(F.split(F.col("text"), " "))
        ).alias("text"),
    )
    # duplicated-span pair (round 11): both members embed the SAME
    # source text behind different 3-word noise heads/tails — unique
    # as whole documents, ≥ half duplicated span-wise
    sub_src = base.filter(F.col("doc_id") % CURATE_SUBSTR_MOD == 0)
    sub_a = sub_src.select(
        (F.col("doc_id") + CURATE_SUBSTR_A_OFF).alias("doc_id"),
        F.concat(
            F.lit("substr noise alpha "), F.col("text"), F.lit(" tail one")
        ).alias("text"),
    )
    sub_b = sub_src.select(
        (F.col("doc_id") + CURATE_SUBSTR_B_OFF).alias("doc_id"),
        F.concat(
            F.lit("substr noise beta "), F.col("text"), F.lit(" tail two")
        ).alias("text"),
    )
    # round 12: source-cap plants — unique synthetic words (nothing
    # upstream or downstream of the cap stage can claim them) all
    # under ONE source, > CURATE_SRC_CAP of them at any driver SF
    src_id = (F.col("doc_id") + CURATE_SRC_OFF).cast("string")
    srccap = base.filter(F.col("doc_id") % CURATE_SRC_MOD == 0).select(
        (F.col("doc_id") + CURATE_SRC_OFF).alias("doc_id"),
        F.concat_ws(
            " ", F.lit("srccap"), F.concat(F.lit("wa"), src_id),
            F.concat(F.lit("wb"), src_id), F.concat(F.lit("wc"), src_id),
            F.concat(F.lit("wd"), src_id),
        ).alias("text"),
    )
    # round 12: URL re-crawl plants — unique synthetic words; the URL
    # is a scheme/www/tracking/fragment variant of the BASE doc's
    url_id = (F.col("doc_id") + CURATE_URL_OFF).cast("string")
    urldup = base.filter(F.col("doc_id") % CURATE_URL_MOD == 0).select(
        (F.col("doc_id") + CURATE_URL_OFF).alias("doc_id"),
        F.concat_ws(
            " ", F.lit("urldup"), F.concat(F.lit("ua"), url_id),
            F.concat(F.lit("ub"), url_id), F.concat(F.lit("uc"), url_id),
            F.concat(F.lit("ud"), url_id),
        ).alias("text"),
        F.concat(
            F.lit("HTTP://WWW.corpus.example/doc/"),
            F.col("doc_id").cast("string"),
            F.lit("/?utm_source=probe#frag"),
        ).alias("url"),
    )
    # Materialize the planted corpus (≤ a few thousand rows at any
    # driver/bench SF): every curate() stage and every gate otherwise
    # re-plans and re-codegens this 10-branch union — measured 3-7 s
    # PER JOB in planning overhead on 666 rows vs 0.2-1 s flattened.
    # Default provenance columns: every doc is its own source (the
    # cap can only bite the planted source) and has a unique URL
    # (only the planted variants collide after normalization).
    corpus_lex = base.unionByName(junk).unionByName(contam).unionByName(
        exact
    ).unionByName(near).unionByName(sem).unionByName(
        sub_a
    ).unionByName(sub_b).unionByName(srccap)
    corpus = (
        corpus_lex.withColumn(
            "source",
            F.when(
                (F.col("doc_id") >= CURATE_SRC_OFF)
                & (F.col("doc_id") < CURATE_URL_OFF),
                F.lit("overrep"),
            ).otherwise(F.col("doc_id").cast("string")),
        )
        .withColumn(
            "url",
            F.concat(
                F.lit("https://corpus.example/doc/"),
                F.col("doc_id").cast("string"),
            ),
        )
        .unionByName(
            urldup.withColumn(
                "source", F.col("doc_id").cast("string")
            ).select("doc_id", "text", "source", "url")
        )
        .localCheckpoint()
    )
    eval_docs = eval_docs.localCheckpoint()

    emb_base = t(spark, sf_dir, "embeddings").select(
        F.col("vec_id").alias("doc_id"),
        F.col("embedding").cast("array<double>").alias("embedding"),
    )
    sem_emb = emb_base.filter(
        (F.col("doc_id") % CURATE_SEM_MOD == 0)
        & (F.col("doc_id") % CURATE_EVAL_MOD != 0)
    ).select(
        (F.col("doc_id") + CURATE_SEM_OFF).alias("doc_id"), "embedding"
    )
    emb = emb_base.unionByName(sem_emb).localCheckpoint()

    res = curate(
        corpus,
        min_quality=0.0,
        min_tokens=3,
        near_dup_threshold=0.7,
        embeddings=emb,
        semantic_eps=0.95,
        semantic_clusters=8,
        emb_id_col="doc_id",
        vec_col="embedding",
        eval_docs=eval_docs,
        decontam_n=5,
        decontam_min_hits=1,
        substr_n=5,
        substr_max_ratio=0.5,
        # tolerate 2-doc spans: the near-dup planted pairs (original +
        # suffixed copy) are freq-2 by construction and must reach the
        # LSH stage; the substr plants are freq-3 (source + two
        # members) and trip this threshold
        substr_max_freq=2,
        # round 12 (VERDICT r11 #3): normalized-URL dedup as stage -1
        # and the RefinedWeb per-source cap ahead of exact dedup
        url_col="url",
        source_col="source",
        source_cap=CURATE_SRC_CAP,
        source_cap_salt="cap12",
    ).localCheckpoint()  # consumed by every gate + the row emit

    kept_docs = res.filter("kept").join(corpus, "doc_id")

    g_junk = res.filter(
        (F.col("doc_id") >= CURATE_JUNK_OFF)
        & (F.col("doc_id") < CURATE_CONTAM_OFF)
        & (F.coalesce(F.col("drop_reason"), F.lit("")) != "quality")
    ).agg(F.count("*").alias("v1"))
    g_contam = res.filter(
        (F.col("doc_id") >= CURATE_CONTAM_OFF)
        & (F.col("doc_id") < CURATE_SEM_OFF)
        & F.col("kept")
    ).agg(F.count("*").alias("v2"))
    ka = kept_docs.select(F.col("doc_id").alias("ia"), F.col("text").alias("ta"))
    kb = kept_docs.select(F.col("doc_id").alias("ib"), F.col("text").alias("tb"))
    g_exact = (
        ka.join(kb, (F.col("ia") < F.col("ib")) & (F.col("ta") == F.col("tb")))
        .agg(F.count("*").alias("v3"))
    )
    g_near = minhash_lsh_pairs(
        kept_docs.select("doc_id", "text"), "text", "doc_id", threshold=0.7
    ).agg(F.count("*").alias("v4"))
    sem_pairs = (
        res.filter(
            (F.col("doc_id") >= CURATE_SEM_OFF)
            & (F.col("doc_id") < CURATE_SUBSTR_A_OFF)
        )
        .select((F.col("doc_id") - CURATE_SEM_OFF).alias("orig"),
                F.col("kept").cast("int").alias("copy_kept"))
        .join(
            res.select(F.col("doc_id").alias("orig"),
                       F.col("kept").cast("int").alias("orig_kept")),
            "orig",
        )
    )
    g_sem = sem_pairs.filter(
        F.col("copy_kept") + F.col("orig_kept") > 1
    ).agg(F.count("*").alias("v5"))
    # round 11: every planted duplicated-span member must drop at the
    # substr stage specifically (quality/contam/exact cannot claim it,
    # and near-dup must never see it — substr runs first)
    g_substr = res.filter(
        (F.col("doc_id") >= CURATE_SUBSTR_A_OFF)
        & (F.col("doc_id") < CURATE_SRC_OFF)
        & (
            F.coalesce(F.col("drop_reason"), F.lit(""))
            != "substr_dup"
        )
    ).agg(F.count("*").alias("v7"))
    # round 12: every planted-source doc must be either kept or
    # dropped EXACTLY at the cap stage, and the kept count must be
    # EXACTLY the cap — the deterministic reservoir contract
    src_res = res.filter(
        (F.col("doc_id") >= CURATE_SRC_OFF)
        & (F.col("doc_id") < CURATE_URL_OFF)
    )
    g_srccap = src_res.agg(
        (
            F.sum(
                (
                    ~(
                        F.col("kept")
                        | (F.col("drop_reason") == "source_capped")
                    )
                ).cast("int")
            )
            + F.abs(
                F.sum(F.col("kept").cast("int"))
                - F.lit(CURATE_SRC_CAP)
            )
        ).alias("v8")
    )
    # round 12: every planted URL re-crawl must drop as 'url_dup'
    # (its text is unique — only the normalized URL can catch it) and
    # its lower-id original must never drop at the URL stage
    g_url = res.filter(
        (
            (F.col("doc_id") >= CURATE_URL_OFF)
            & (
                F.coalesce(F.col("drop_reason"), F.lit(""))
                != "url_dup"
            )
        )
        | (
            (F.col("doc_id") < CURATE_URL_OFF)
            & (
                F.coalesce(F.col("drop_reason"), F.lit(""))
                == "url_dup"
            )
        )
    ).agg(F.count("*").alias("v9"))
    n_in = corpus.agg(F.countDistinct("doc_id").alias("n")).collect()[0]["n"]
    g_conserve = res.agg(
        (
            (F.count("*") != F.lit(n_in))
            | (F.countDistinct("doc_id") != F.lit(n_in))
        ).cast("int").alias("a")
        , F.sum(
            (
                (F.col("kept") & F.col("drop_reason").isNotNull())
                | (~F.col("kept") & F.col("drop_reason").isNull())
            ).cast("int")
        ).alias("b")
    ).select((F.col("a") + F.col("b")).alias("v6"))

    stage = F.when(F.col("kept"), F.lit(0))
    for reason, code in _CURATE_STAGE.items():
        stage = stage.when(F.col("drop_reason") == reason, F.lit(code))
    rows = res.select(
        F.lit("curate").alias("method"),
        F.col("doc_id").alias("id_a"),
        stage.cast("long").alias("id_b"),
        F.coalesce(F.col("ws_tokens"), F.lit(0)).cast("double").alias("score"),
    )
    for gate in (g_junk, g_contam, g_exact, g_near, g_sem, g_conserve,
                 g_substr, g_srccap, g_url):
        rows = rows.crossJoin(F.broadcast(gate))
    return rows.filter(
        (F.col("v1") == 0) & (F.col("v2") == 0) & (F.col("v3") == 0)
        & (F.col("v4") == 0) & (F.col("v5") == 0) & (F.col("v6") == 0)
        & (F.col("v7") == 0) & (F.col("v8") == 0) & (F.col("v9") == 0)
    ).select("method", "id_a", "id_b", "score")


#: quality-classifier planting arithmetic (method='quality_model')
QM_JUNK_OFF = 600_000
QM_TRAIN_MOD = 2


def _quality_model_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """method='quality_model' rows (round 10): the GPT-3/fastText
    LEARNED quality filter (operators/quality_model.py — tokenize →
    hashed tf-idf → logistic regression) fit and applied end-to-end:

    - positives = the real documents (label 1); negatives = a planted
      vocabulary-shifted copy per doc (character-reversed text,
      +600000): distributionally disjoint tokens — the lexical
      signature a learned filter keys on (same-vocabulary repetition
      junk is the RULE filters' job, repetition_stats);
    - fit on the doc_id%2==0 half, score the held-out half;
    - gates (any trip zeroes the method's rows): held-out accuracy
      ≥ 0.95, and mean P[quality] separation between held-out clean
      and junk ≥ 0.5.

    Emitted row per held-out doc: id_a = doc_id, id_b = predicted
    label, score = P[quality]. Model scores are float-path (MLlib),
    hence rows-only; the gates make the row count a real signal."""
    from timescale_cdc_spark.operators.quality_model import (
        fit_quality_classifier,
        score_quality,
    )

    docs = t(spark, sf_dir, "documents").select("doc_id", "text")
    junk = docs.select(
        (F.col("doc_id") + QM_JUNK_OFF).alias("doc_id"),
        F.reverse(F.col("text")).alias("text"),
    )
    labeled = (
        docs.withColumn("label", F.lit(1.0))
        .unionByName(junk.withColumn("label", F.lit(0.0)))
        .localCheckpoint()  # flat plan for the iterative fit
    )
    train = labeled.filter(F.col("doc_id") % QM_TRAIN_MOD == 0)
    test = labeled.filter(F.col("doc_id") % QM_TRAIN_MOD != 0)
    model = fit_quality_classifier(train)
    scored = score_quality(model, test).localCheckpoint()

    gates = scored.agg(
        (
            F.avg(
                (F.col("quality_pred") == F.col("label")).cast("double")
            )
            < 0.95
        ).cast("int").alias("g1"),
        (
            F.avg(F.when(F.col("label") == 1.0, F.col("quality_prob")))
            - F.avg(F.when(F.col("label") == 0.0, F.col("quality_prob")))
            < 0.5
        ).cast("int").alias("g2"),
    )
    rows = scored.select(
        F.lit("quality_model").alias("method"),
        F.col("doc_id").alias("id_a"),
        F.col("quality_pred").cast("long").alias("id_b"),
        F.col("quality_prob").cast("double").alias("score"),
    )
    return (
        rows.crossJoin(F.broadcast(gates))
        .filter((F.col("g1") == 0) & (F.col("g2") == 0))
        .select("method", "id_a", "id_b", "score")
    )


@register("c2_streaming_near_dedup")  # xxhash64 sketches → rows-only
def c2_streaming_near_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C2 ⊕ B45: the streaming near-dup ingest gate
    (operators/curation.py::StreamingNearDedup) driven over the
    planted corpus as three micro-batches (doc_id % 3). Cross-batch
    dups drop via the persisted band-partitioned signature index,
    within-batch pairs resolve keep-lowest-id; survivors are returned
    tagged with their admitting batch.

    SELF-VALIDATING: the result emits only if the admitted set
    contains NO candidate pair at est-Jaccard ≥ the gate's threshold —
    i.e. re-running the batch LSH detector over the survivors finds
    nothing. A regression in the index check, batch resolution, or
    replay idempotence admits a duplicate and the row count drops to
    zero, so the driver's rows-only count is a real invariant signal.

    Round 15 (VERDICT r14 #4) — MID-STREAM TAKEDOWN: two synthetic
    near-dup pairs are planted with texts derived from the fixture
    (every word prefixed, so they est-match NOTHING organic — the
    planted-copy discipline, isolated from the fixture's own
    est-similarity structure): S(900000)/S'(900001) and the control
    T(900003)/T'(900004). S and T land in batch 0; S', T' in batch
    1. Between the batches the entry DELETES S
    (BandedIndexStore.delete → tombstone anti-join on every lookup).
    The takedown gate then demands BOTH directions: S' ADMITTED
    (the tombstoned doc stopped suppressing immediately) AND T'
    DROPPED (suppression still works where no takedown happened) —
    either failure zeroes the rows. The original no-near-dup
    invariant keeps holding over the post-takedown corpus (admitted
    minus S) and would catch a resurrected S pairing with S'.

    (The production path is a foreachBatch sink writing survivors out
    — see StreamingNearDedup.attach; this adapter exists so the driver
    exercises the gate's semantics every round.)

    Round 9 (VERDICT r8 #2): the entry is method-tagged long format
    ``(method, id_a, id_b, score)`` and additionally carries
    method='semdedup' rows — SemDeDup semantic dedup with planted-copy
    and drop-witness in-plan gates (see :func:`_semdedup_rows`). The
    streaming-gate rows are method='stream_gate' with id_b = admitting
    batch and score = surviving doc length.

    Round 10 (VERDICT r9 #6): + method='curate' rows — the composed
    curate() pipeline end-to-end with one planted group per stage and
    nine in-plan gates (substr added r11; source-cap and url-dup
    added r12 — see :func:`_curate_rows`) — and
    method='quality_model' rows — the learned GPT-3/fastText-style
    quality filter with accuracy + separation gates (see
    :func:`_quality_model_rows`)."""
    import shutil

    from timescale_cdc_spark.operators.curation import StreamingNearDedup

    index_path = scratch_path(sf_dir, "near_dedup_idx")
    shutil.rmtree(index_path, ignore_errors=True)

    # Synthetic takedown pairs derived from fixture text (doc 1's
    # words each given a distinct prefix → zero shingle overlap with
    # anything organic): S/S' is the takedown pair, T/T' the control.
    # Ids chosen so S, T hit batch 0 (%3==0) and S', T' batch 1.
    seed = t(spark, sf_dir, "documents").filter(F.col("doc_id") == 1)
    S_ID, SP_ID, T_ID, TP_ID = 900000, 900001, 900003, 900004

    def _planted_pair(orig_id, copy_id, prefix):
        mutated = F.regexp_replace("text", r"(^|\s)(\S)", f"$1{prefix}$2")
        orig = seed.select(
            F.lit(orig_id).cast("long").alias("doc_id"),
            mutated.alias("text"),
        )
        copy = seed.select(
            F.lit(copy_id).cast("long").alias("doc_id"),
            F.concat(mutated, F.lit(" one extra trailing token"))
            .alias("text"),
        )
        return orig.unionByName(copy)

    corpus = (
        _planted_docs(spark, sf_dir)
        .unionByName(_planted_pair(S_ID, SP_ID, "zq"))
        .unionByName(_planted_pair(T_ID, TP_ID, "xv"))
    )
    gate = StreamingNearDedup(spark, index_path)
    admitted = None
    for b in range(3):
        batch = corpus.filter(F.pmod(F.col("doc_id"), F.lit(3)) == b)
        # process_batch pins its result (eager localCheckpoint), so
        # the union below is stable however late the driver collects.
        survivors = gate.process_batch(batch, b).withColumn(
            "ingest_batch", F.lit(b)
        )
        admitted = survivors if admitted is None else admitted.unionByName(survivors)
        if b == 0:
            # mid-stream takedown of S, between micro-batches (the
            # gate's single-writer contract): S's signatures must
            # stop suppressing from the very next batch
            gate.delete([S_ID])
    # the takedown removes S from the corpus downstream — the
    # admitted set the invariants run over excludes it
    admitted = admitted.filter(F.col("doc_id") != S_ID)

    # In-plan invariant gate 1: zero near-dup candidate pairs among
    # the admitted docs (same detector, same threshold) — over the
    # post-takedown corpus this also catches a resurrected S pairing
    # with its (now admitted) near-copy S'.
    viol = (
        minhash_lsh_pairs(admitted, "text", "doc_id", threshold=gate.threshold)
        .agg(F.count("*").alias("n_viol"))
    )
    # In-plan invariant gate 2 (round 15, VERDICT r14 #4): the
    # takedown must have RELEASED S' (admitted in batch 1) while the
    # untouched control pair keeps suppressing T' — both checked in
    # one tiny aggregate; either failure zeroes the result.
    takedown_ok = admitted.agg(
        (
            F.sum((F.col("doc_id") == SP_ID).cast("int"))
            - F.sum((F.col("doc_id") == TP_ID).cast("int"))
        ).alias("_takedown_sig")
    )
    gate_rows = (
        admitted.select("ingest_batch", "doc_id", F.length("text").alias("n_chars"))
        .crossJoin(F.broadcast(viol))
        .crossJoin(F.broadcast(takedown_ok))
        .filter(
            (F.col("n_viol") == 0) & (F.col("_takedown_sig") == 1)
        )
        .select(
            F.lit("stream_gate").alias("method"),
            F.col("doc_id").alias("id_a"),
            F.col("ingest_batch").cast("long").alias("id_b"),
            F.col("n_chars").cast("double").alias("score"),
        )
    )
    return (
        gate_rows.unionByName(_semdedup_rows(spark, sf_dir))
        .unionByName(_curate_rows(spark, sf_dir))
        .unionByName(_quality_model_rows(spark, sf_dir))
    )


# --------------------------------------------------------------------------
# C3 similarity search
# --------------------------------------------------------------------------


@register(
    "c3_topk_cosine",
    """
    WITH q AS (SELECT vec_id AS q_id, CAST(embedding AS DOUBLE[]) AS qv
               FROM embeddings WHERE vec_id < 10),
    c AS (SELECT vec_id AS c_id, CAST(embedding AS DOUBLE[]) AS cv FROM embeddings),
    scored AS (
      SELECT q_id, c_id,
             round(list_dot_product(qv, cv)
                   / (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(cv, cv))),
                   4) AS cos
      FROM q JOIN c ON c_id <> q_id
    ),
    ranked AS (
      SELECT q_id, c_id, cos,
             ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cos DESC, c_id) AS rank
      FROM scored
    )
    SELECT q_id, c_id, cos, rank FROM ranked WHERE rank <= 5
    """,
)
def c3_topk_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C3 exact cosine top-K: 10 query vectors vs the corpus,
    broadcast-join + zip_with dot products + per-query rank window
    (operators/similarity.py::brute_force_topk). The exact baseline
    the ANN paths are measured against."""
    em = t(spark, sf_dir, "embeddings")
    return brute_force_topk(em, em.filter(F.col("vec_id") < 10), k=5)


@register("c3_ann_lsh_ivf")  # bucket recall is probabilistic → rows-only
def c3_ann_lsh_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C3 approximate top-K plus the embedding-space ingest gate,
    method-tagged in one result:

    - method='lsh': random-hyperplane LSH — sign sketch → banded
      hamming candidates → exact re-rank. Candidates per query are
      bucket-bounded, not |corpus|.
    - method='ivf': IVF-Flat (FAISS-style) — KMeans coarse quantizer,
      probe 4/16 cells, exact re-rank; centroids ride in a broadcast
      frame so plan size is O(1) in cluster count.
    - method='pq': product quantization (operators/pq.py, new in
      round 7) — m=8 subquantizers × 16 codes, ADC candidate scoring
      as pure JVM lookup-sum expressions, exact-cosine re-rank of the
      ADC top-50; the billion-vector compression standard (Jégou et
      al., TPAMI 2011), recall-gated like the other families.
    - method='ivfpq': residual IVF-PQ (operators/pq.py::IvfPqIndex,
      round 8 tag — VERDICT r7 next #2) — coarse KMeans cells + PQ
      over RESIDUALS, probe-pruned partition reads × compressed
      codes; the FAISS billion-scale design, recall-gated like the
      other families so the driver sees its recall signal too.
    - method='sq8': 8-bit scalar quantization (round 10,
      operators/sq8.py::sq8_topk) — per-dimension int8 codes
      trained from corpus min/max, compressed-domain cosine scan
      (4× less I/O), exact refine of the approx top-50 by id; FAISS's
      SQ8 flat index, recall-gated like the other families.
    - method='sq8_index': the PERSISTED build-once/query-many SQ8
      variant (operators/sq8.py::Sq8Index): bounds
      trained and corpus encoded once at build,
      repeat query batches read compressed codes off disk; must meet
      the same recall floor from the persisted read path.
    - method='ivf_sq8': IVF + SQ8 with residual encoding (round 11,
      operators/sq8.py::IvfSq8Index — FAISS's IVF<n>,SQ8):
      coarse cells route the scan (partition-pruned to the probed
      cells) and int8 codes cover within-cell RESIDUALS; recall-gated
      like the other families.
    - method='vec_gate': the streaming vector-dedup ingest gate
      (operators/ann_index.py::StreamingVectorDedup) driven over the
      planted vector corpus as three micro-batches — one row per
      admitted vector, q_id=vec_id, c_id=admitting batch, cos=dim.
      (Round 7: folded in from the former standalone
      ``c3_streaming_vector_dedup`` entry so the registry fits the
      driver's 50-entry correctness window.)

    The 100 TB paths alongside the exact c3_topk_cosine baseline.

    SELF-VALIDATING (round 4, VERDICT r3 #2): the driver can't oracle
    probabilistic bucket recall, so the query computes each family's
    recall@5 against brute_force_topk IN-PLAN and emits only rows from
    families meeting the 0.5 recall floor (the same floor the tests
    pin). If an index family regresses below the floor its ~50 rows
    VANISH from the result. The vec_gate rows likewise emit only if
    the admitted set contains NO pair at cosine ≥ the gate's threshold
    (re-running the batch LSH-candidates + exact-verify detector over
    the survivors must find nothing) — a regression in the index
    lookup, within-batch resolution, or replay handling admits a
    duplicate and all gate rows vanish. The driver's rows-only count
    is therefore a recall AND invariant signal, not just \"ran without
    error\". Per-family shape is pinned in tests/test_operators.py."""
    import shutil

    from timescale_cdc_spark.operators.pq import IvfPqIndex, PqIndex

    em = t(spark, sf_dir, "embeddings")
    q = em.filter(F.col("vec_id") < 10)
    lsh = hyperplane_lsh_topk(em, q, k=5).select(
        F.lit("lsh").alias("method"), "q_id", "c_id", "cos", "rank"
    )
    ivf = ivf_topk(em, q, k=5).select(
        F.lit("ivf").alias("method"), "q_id", "c_id", "cos", "rank"
    )
    pq_path = scratch_path(sf_dir, "pq_idx")
    shutil.rmtree(pq_path, ignore_errors=True)
    pq = (
        PqIndex(spark, pq_path)
        .build(em, m=8, k_sub=16)
        .topk(q, k=5, rerank=50)
        .select(F.lit("pq").alias("method"), "q_id", "c_id", "cos", "rank")
    )
    ivfpq_path = scratch_path(sf_dir, "ivfpq_idx")
    shutil.rmtree(ivfpq_path, ignore_errors=True)
    ivfpq = (
        IvfPqIndex(spark, ivfpq_path)
        .build(em, n_cells=16, m=8, k_sub=16)
        .topk(q, k=5, n_probe=4, rerank=50)
        .select(
            F.lit("ivfpq").alias("method"), "q_id", "c_id", "cos", "rank"
        )
    )
    from timescale_cdc_spark.operators.sq8 import Sq8Index, sq8_topk

    sq8 = sq8_topk(em, q, k=5, rerank=50).select(
        F.lit("sq8").alias("method"), "q_id", "c_id", "cos", "rank"
    )
    # method='sq8_index' (round 11, VERDICT r10 #4): the persisted
    # build-once/query-many variant — must reproduce the one-shot
    # path's recall from codes served off disk.
    sq8i_path = scratch_path(sf_dir, "sq8_idx")
    shutil.rmtree(sq8i_path, ignore_errors=True)
    sq8i = (
        Sq8Index(spark, sq8i_path)
        .build(em)
        .topk(q, k=5, rerank=50)
        .select(
            F.lit("sq8_index").alias("method"), "q_id", "c_id", "cos",
            "rank",
        )
    )
    from timescale_cdc_spark.operators.sq8 import IvfSq8Index

    ivfsq8_path = scratch_path(sf_dir, "ivfsq8_idx")
    shutil.rmtree(ivfsq8_path, ignore_errors=True)
    ivfsq8 = (
        IvfSq8Index(spark, ivfsq8_path)
        .build(em, n_cells=16)
        .topk(q, k=5, n_probe=4, rerank=50)
        .select(
            F.lit("ivf_sq8").alias("method"), "q_id", "c_id", "cos",
            "rank",
        )
    )
    approx = (
        lsh.unionByName(ivf).unionByName(pq).unionByName(ivfpq)
        .unionByName(sq8).unionByName(sq8i).unionByName(ivfsq8)
    )
    exact = brute_force_topk(em, q, k=5).select(
        "q_id", "c_id", F.lit(1).alias("_hit")
    )
    n_exact = exact.agg(F.count("*").alias("n_exact"))
    per_method = (
        approx.join(exact, ["q_id", "c_id"], "left")
        .groupBy("method")
        .agg(F.count("_hit").alias("n_hit"))
    )
    ok = (
        per_method.crossJoin(n_exact)
        .filter(F.col("n_hit") >= 0.5 * F.col("n_exact"))
        .select("method")
    )
    return approx.join(F.broadcast(ok), "method").unionByName(
        _vector_gate_rows(spark, sf_dir)
    )


@register(
    "c3_embedding_dup_pairs",
    f"""
    WITH corpus AS ({PLANT_VECS_SQL}),
    a AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM corpus)
    SELECT x.vec_id AS id_a, y.vec_id AS id_b,
           round(list_dot_product(x.v, y.v)
                 / (sqrt(list_dot_product(x.v, x.v)) * sqrt(list_dot_product(y.v, y.v))),
                 4) AS cos
    FROM a x JOIN a y ON x.vec_id < y.vec_id
    WHERE round(list_dot_product(x.v, y.v)
                / (sqrt(list_dot_product(x.v, x.v)) * sqrt(list_dot_product(y.v, y.v))),
                4) >= 0.99
    """,
)
def c3_embedding_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C1/C2 embedding-cosine near-dup: planted identical vectors must
    surface as cos≈1 pairs. The REGISTERED plan is hyperplane-LSH
    candidates + exact cosine verification
    (operators/similarity.py::embedding_dup_pairs) — a bucketed hash
    self-join, NO all-pairs CartesianProduct (pinned in
    tests/test_plans.py). The oracle is the exact all-pairs definition:
    because verification is exact and identical vectors always share
    every sketch band, the LSH path reproduces it exactly on the
    planted corpus."""
    corpus = _planted_vecs(spark, sf_dir)
    return embedding_dup_pairs(corpus, threshold=0.99)


def _vector_gate_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The embedding-space ingest gate (C3 ⊕ B45,
    operators/ann_index.py::StreamingVectorDedup) driven over the
    planted vector corpus as three micro-batches (vec_id % 3), aligned
    to the c3_ann_lsh_ivf schema as method='vec_gate' rows. Planted
    identical copies admit exactly one member; q_id carries the
    admitted vec_id, c_id the admitting batch, cos the vector dim.

    The in-plan invariant (zero admitted pairs at cosine ≥ the gate's
    threshold, verified by the batch LSH-candidates + exact-verify
    detector similarity.embedding_dup_pairs) gates the emit — see the
    c3_ann_lsh_ivf docstring."""
    import shutil

    from timescale_cdc_spark.operators.ann_index import StreamingVectorDedup

    index_path = scratch_path(sf_dir, "vec_dedup_idx")
    shutil.rmtree(index_path, ignore_errors=True)

    corpus = _planted_vecs(spark, sf_dir)
    gate = StreamingVectorDedup(spark, index_path)
    admitted = None
    for b in range(3):
        batch = corpus.filter(F.pmod(F.col("vec_id"), F.lit(3)) == b)
        survivors = gate.process_batch(batch, b).withColumn(
            "ingest_batch", F.lit(b)
        )
        admitted = survivors if admitted is None else admitted.unionByName(survivors)

    viol = embedding_dup_pairs(
        admitted.select("vec_id", "embedding"), threshold=gate.threshold
    ).agg(F.count("*").alias("n_viol"))
    return (
        admitted.select(
            F.lit("vec_gate").alias("method"),
            F.col("vec_id").alias("q_id"),
            F.col("ingest_batch").cast("long").alias("c_id"),
            F.size("embedding").cast("double").alias("cos"),
            F.lit(0).alias("rank"),
        )
        .crossJoin(F.broadcast(viol))
        .filter(F.col("n_viol") == 0)
        .drop("n_viol")
    )


# --------------------------------------------------------------------------
# C4 text analysis (language-ID + quality + tokens + fingerprint, one pass)
# --------------------------------------------------------------------------

_MARKER_SQL = {
    lang: ", ".join(f"'{w}'" for w in words)
    for lang, words in sorted(LANG_PROFILES.items())
}

_LANG_SCORE_COLS = ",\n           ".join(
    f"floor(CAST(len(list_filter(string_split(lower(text), ' '), "
    f"w -> w IN ({_MARKER_SQL[lang]}))) AS DOUBLE)"
    f" / greatest(len(string_split(lower(text), ' ')), 1) * 1000000) / 1000000 AS score_{lang}"
    for lang in sorted(LANG_PROFILES)
)

_BEST = "greatest(" + ", ".join(f"score_{lang}" for lang in sorted(LANG_PROFILES)) + ")"
_PRED = (
    "CASE "
    + " ".join(
        f"WHEN score_{lang} = {_BEST} THEN '{lang}'"
        for lang in sorted(LANG_PROFILES)
    )
    + " END"
)


@register(
    "c4_text_analysis",
    f"""
    WITH scored AS (
      SELECT doc_id, lang, text,
           {_LANG_SCORE_COLS}
      FROM documents
    ),
    m AS (
      SELECT doc_id,
             len(string_split(lower(text), ' ')) AS n_tokens,
             length(text) AS n_chars,
             length(text) - length(regexp_replace(text, '[^\\w\\s]', '', 'g'))
               AS n_punct,
             len(list_filter(string_split(lower(text), ' '),
                 w -> w IN ('the','a','of','and','to','in'))) AS n_stop,
             len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]'))
               AS bpe_tokens,
             md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'))
               AS content_fingerprint
      FROM documents
    ),
    w AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
    g2 AS (
      SELECT doc_id, concat_ws(' ', w[i], w[i+1]) AS gr
      FROM w, UNNEST(generate_series(1, greatest(len(w) - 1, 1))) AS t(i)
    ),
    g2c AS (SELECT doc_id, gr, COUNT(*) AS c FROM g2 GROUP BY 1, 2),
    g2s AS (
      SELECT doc_id,
             floor(CAST(MAX(c) AS DOUBLE) / SUM(c) * 1000000) / 1000000
               AS top_bigram_frac
      FROM g2c GROUP BY doc_id
    ),
    g3 AS (
      SELECT doc_id, concat_ws(' ', w[i], w[i+1], w[i+2]) AS gr
      FROM w, UNNEST(generate_series(1, greatest(len(w) - 2, 1))) AS t(i)
    ),
    g3c AS (SELECT doc_id, gr, COUNT(*) AS c FROM g3 GROUP BY 1, 2),
    g3s AS (
      SELECT doc_id,
             floor((1.0 - CAST(COUNT(*) AS DOUBLE) / SUM(c)) * 1000000)
               / 1000000 AS dup_trigram_frac
      FROM g3c GROUP BY doc_id
    ),
    p AS (
      SELECT doc_id,
             text || ' contact user' || doc_id || '@example.com'
               || CASE WHEN doc_id % 3 = 0
                       THEN ' cc admin' || doc_id || '@mail.test'
                       ELSE '' END
               || ' tel ' || (doc_id % 900 + 100) || '-555-'
               || (doc_id % 9000 + 1000)
               || ' host 10.' || (doc_id % 256) || '.'
               || ((doc_id // 7) % 256) || '.' || (doc_id % 100) AS pt
      FROM documents
    ),
    ps AS (
      SELECT doc_id,
             len(regexp_extract_all(pt, '{PII_PATTERNS["email"]}'))
               AS n_pii_email,
             len(regexp_extract_all(pt, '{PII_PATTERNS["phone"]}'))
               AS n_pii_phone,
             len(regexp_extract_all(pt, '{PII_PATTERNS["ip"]}'))
               AS n_pii_ip,
             md5(regexp_replace(regexp_replace(regexp_replace(pt,
                 '{PII_PATTERNS["email"]}', '{PII_TOKENS["email"]}', 'g'),
                 '{PII_PATTERNS["phone"]}', '{PII_TOKENS["phone"]}', 'g'),
                 '{PII_PATTERNS["ip"]}', '{PII_TOKENS["ip"]}', 'g'))
               AS pii_redacted_fp
      FROM p
    )
    SELECT s.doc_id, s.lang,
           score_de, score_en, score_es, score_fr, score_zh,
           {_PRED} AS predicted_lang,
           m.n_tokens,
           floor(CAST(n_punct AS DOUBLE) / greatest(n_chars, 1) * 1000000) / 1000000
             AS punct_ratio,
           floor(CAST(n_stop AS DOUBLE) / greatest(m.n_tokens, 1) * 1000000) / 1000000
             AS stopword_ratio,
           floor(CAST(n_chars - (m.n_tokens - 1) AS DOUBLE) / greatest(m.n_tokens, 1)
                 * 1000000) / 1000000 AS mean_word_len,
           floor((0.4 * least(m.n_tokens / 100.0, 1.0)
               + 0.3 * (CAST(n_stop AS DOUBLE) / greatest(m.n_tokens, 1))
               + 0.2 * (1.0 - CAST(n_punct AS DOUBLE) / greatest(n_chars, 1))
               + 0.1 * least((CAST(n_chars - (m.n_tokens - 1) AS DOUBLE)
                              / greatest(m.n_tokens, 1)) / 10.0, 1.0)) * 1000000)
             / 1000000 AS quality,
           m.n_tokens AS ws_tokens,
           m.bpe_tokens,
           m.content_fingerprint,
           g2s.top_bigram_frac,
           g3s.dup_trigram_frac,
           ps.n_pii_email, ps.n_pii_phone, ps.n_pii_ip,
           ps.pii_redacted_fp
    FROM scored s
    JOIN m ON s.doc_id = m.doc_id
    JOIN g2s ON s.doc_id = g2s.doc_id
    JOIN g3s ON s.doc_id = g3s.doc_id
    JOIN ps ON s.doc_id = ps.doc_id
    """,
)
def c4_text_analysis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4 text analysis, whole family in one map-side pass over the
    corpus (operators/text.py): language-ID (marker-word profile
    scoring with deterministic argmax — accuracy on real multilingual
    samples is asserted in tests/test_operators.py; the fixture corpus
    is vocabulary-identical across langs), quality scoring
    (length/punct/stopword/word-length signals → bounded score, the
    pretraining-corpus filter shape), token counting (whitespace + a
    BPE-ish pre-tokenizer regex), and md5 document fingerprinting
    (portable content identity; the xxhash64 companion column is
    Spark-specific, excluded from the oracle). Round 10: + PII
    detection and redaction (pii_stats/redact_pii — the Dolma
    email/phone/IPv4 scrubber; planted doc_id-derived PII because the
    fixture corpus has none; the redacted-text md5 pins the rewrite
    byte-for-byte cross-engine). The per-doc signal columns stay zero
    shuffles, zero Python — pure codegen'd expressions."""
    docs = t(spark, sf_dir, "documents").select("doc_id", "lang", "text")
    out = language_scores(docs, "text")
    out = quality_score(out, "text")
    out = token_stats(out, "text")
    out = fingerprint(out, "text")
    from timescale_cdc_spark.operators.text import (
        pii_stats,
        redact_pii,
        repetition_stats,
    )

    out = repetition_stats(out, "text", id_col="doc_id")
    # Round 10: PII detect + redact (operators/text.py, Dolma recipe).
    # The fixture corpus is PII-free word soup, so plant deterministic
    # doc_id-derived PII (two email shapes, a 3-3-4 phone, an IPv4) —
    # the redacted-text fingerprint then checks the rewrite
    # byte-for-byte against the RE2 oracle, non-degenerately.
    out = out.withColumn(
        "_pii_text",
        F.concat(
            F.col("text"),
            F.lit(" contact user"),
            F.col("doc_id").cast("string"),
            F.lit("@example.com"),
            F.when(
                F.col("doc_id") % 3 == 0,
                F.concat(
                    F.lit(" cc admin"),
                    F.col("doc_id").cast("string"),
                    F.lit("@mail.test"),
                ),
            ).otherwise(F.lit("")),
            F.lit(" tel "),
            (F.col("doc_id") % 900 + 100).cast("string"),
            F.lit("-555-"),
            (F.col("doc_id") % 9000 + 1000).cast("string"),
            F.lit(" host 10."),
            (F.col("doc_id") % 256).cast("string"),
            F.lit("."),
            (F.expr("doc_id DIV 7") % 256).cast("string"),
            F.lit("."),
            (F.col("doc_id") % 100).cast("string"),
        ),
    )
    out = pii_stats(out, "_pii_text")
    out = redact_pii(out, "_pii_text", out_col="_pii_red")
    return out.select(
        "doc_id",
        "lang",
        "score_de",
        "score_en",
        "score_es",
        "score_fr",
        "score_zh",
        "predicted_lang",
        "n_tokens",
        "punct_ratio",
        "stopword_ratio",
        "mean_word_len",
        "quality",
        "ws_tokens",
        "bpe_tokens",
        "content_fingerprint",
        trunc6(F.col("top_bigram_frac")).alias("top_bigram_frac"),
        trunc6(F.col("dup_trigram_frac")).alias("dup_trigram_frac"),
        "n_pii_email",
        "n_pii_phone",
        "n_pii_ip",
        F.md5(F.col("_pii_red")).alias("pii_redacted_fp"),
    )


#: Decontamination constants: eval slice + planted-contamination ids.
DECON_EVAL_MOD = 37
DECON_PLANT_OFFSET = 200_000
DECON_PLANT_PREFIX = "decontam probe prefix "
DECON_NGRAM = 5

#: Exact-substring-dedup constants (round 11, family='substr'):
#: every SUBSTR_MOD-th document gets a planted prefixed copy, so the
#: copied text becomes a corpus-INTERNAL duplicated span.
SUBSTR_MOD = 23
SUBSTR_OFF = 300_000
SUBSTR_PREFIX = "substr noise prefix "


@register(
    "c4_decontamination",
    f"""
    WITH eval_docs AS (
      SELECT doc_id, text FROM documents WHERE doc_id % {DECON_EVAL_MOD} = 0
    ),
    train_docs AS (
      SELECT doc_id, text FROM documents WHERE doc_id % {DECON_EVAL_MOD} <> 0
      UNION ALL
      SELECT doc_id + {DECON_PLANT_OFFSET} AS doc_id,
             '{DECON_PLANT_PREFIX}' || text AS text
      FROM eval_docs
    ),
    tw AS (SELECT doc_id, regexp_split_to_array(text, '\\s+') AS w
           FROM train_docs),
    tg AS (
      SELECT DISTINCT doc_id,
             concat_ws(' ', w[i], w[i+1], w[i+2], w[i+3], w[i+4]) AS g
      FROM tw, UNNEST(generate_series(1, greatest(len(w) - 4, 1))) AS t(i)
    ),
    ew AS (SELECT regexp_split_to_array(text, '\\s+') AS w
           FROM eval_docs),
    eg AS (
      SELECT DISTINCT concat_ws(' ', w[i], w[i+1], w[i+2], w[i+3], w[i+4]) AS g
      FROM ew, UNNEST(generate_series(1, greatest(len(w) - 4, 1))) AS t(i)
    ),
    totals AS (SELECT doc_id, COUNT(*) AS n_grams FROM tg GROUP BY doc_id),
    hits AS (
      SELECT tg.doc_id, COUNT(*) AS n_hits
      FROM tg JOIN eg ON tg.g = eg.g
      GROUP BY tg.doc_id
    ),
    doc_rows AS (
      SELECT 'doc' AS family,
             t.doc_id,
             t.n_grams,
             COALESCE(h.n_hits, 0) AS n_hits,
             CASE WHEN t.n_grams > 0
                  THEN CAST(COALESCE(h.n_hits, 0) AS DOUBLE) / t.n_grams
                  ELSE 0.0 END AS contamination_ratio,
             COALESCE(h.n_hits, 0) >= 1 AS contaminated,
             CAST(NULL AS VARCHAR) AS clean_text
      FROM totals t LEFT JOIN hits h ON t.doc_id = h.doc_id
    ),
    span_tg AS (
      SELECT doc_id, i - 1 AS pos,
             concat_ws(' ', w[i], w[i+1], w[i+2], w[i+3], w[i+4]) AS g
      FROM tw, UNNEST(generate_series(1, greatest(len(w) - 4, 1))) AS t(i)
    ),
    span_hits AS (
      SELECT DISTINCT s.doc_id, s.pos FROM span_tg s JOIN eg ON s.g = eg.g
    ),
    span_keep AS (
      SELECT tw.doc_id, u.k, w[u.k] AS word
      FROM tw, UNNEST(generate_series(1, len(w))) AS u(k)
      WHERE NOT EXISTS (
        SELECT 1 FROM span_hits h
        WHERE h.doc_id = tw.doc_id
          AND u.k - 1 BETWEEN h.pos AND h.pos + 4
      )
    ),
    span_clean AS (
      SELECT doc_id, string_agg(word, ' ' ORDER BY k) AS clean_text,
             COUNT(*) AS n_kept
      FROM span_keep GROUP BY doc_id
    ),
    span_rows AS (
      SELECT 'span' AS family,
             tw.doc_id,
             greatest(len(w) - 5, 0) + 1 AS n_grams,
             COALESCE(hc.n_hits, 0) AS n_hits,
             CAST(len(w) - COALESCE(c.n_kept, 0) AS DOUBLE)
               / greatest(len(w), 1) AS contamination_ratio,
             COALESCE(hc.n_hits, 0) >= 1 AS contaminated,
             COALESCE(c.clean_text, '') AS clean_text
      FROM tw
      LEFT JOIN (SELECT doc_id, COUNT(*) AS n_hits
                 FROM span_hits GROUP BY doc_id) hc
        ON tw.doc_id = hc.doc_id
      LEFT JOIN span_clean c ON tw.doc_id = c.doc_id
    ),
    sub_corpus AS (
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT doc_id + {SUBSTR_OFF} AS doc_id,
             '{SUBSTR_PREFIX}' || text AS text
      FROM documents WHERE doc_id % {SUBSTR_MOD} = 0
    ),
    sub_w AS (SELECT doc_id, regexp_split_to_array(text, '\\s+') AS w
              FROM sub_corpus),
    sub_g AS (
      SELECT doc_id, i - 1 AS pos,
             concat_ws(' ', w[i], w[i+1], w[i+2], w[i+3], w[i+4]) AS g
      FROM sub_w, UNNEST(generate_series(1, greatest(len(w) - 4, 1))) AS t(i)
    ),
    sub_dup AS (
      SELECT g FROM (
        SELECT g, COUNT(DISTINCT doc_id) AS f FROM sub_g GROUP BY g
      ) WHERE f > 1
    ),
    sub_hits AS (
      SELECT DISTINCT s.doc_id, s.pos
      FROM sub_g s JOIN sub_dup d ON s.g = d.g
    ),
    sub_keep AS (
      SELECT sw.doc_id, u.k, w[u.k] AS word
      FROM sub_w sw, UNNEST(generate_series(1, len(w))) AS u(k)
      WHERE NOT EXISTS (
        SELECT 1 FROM sub_hits h
        WHERE h.doc_id = sw.doc_id
          AND u.k - 1 BETWEEN h.pos AND h.pos + 4
      )
    ),
    sub_clean AS (
      SELECT doc_id, string_agg(word, ' ' ORDER BY k) AS clean_text,
             COUNT(*) AS n_kept
      FROM sub_keep GROUP BY doc_id
    ),
    substr_rows AS (
      SELECT 'substr' AS family,
             sw.doc_id,
             greatest(len(w) - 5, 0) + 1 AS n_grams,
             COALESCE(hc.n_hits, 0) AS n_hits,
             CAST(len(w) - COALESCE(c.n_kept, 0) AS DOUBLE)
               / greatest(len(w), 1) AS contamination_ratio,
             COALESCE(hc.n_hits, 0) >= 1 AS contaminated,
             COALESCE(c.clean_text, '') AS clean_text
      FROM sub_w sw
      LEFT JOIN (SELECT doc_id, COUNT(*) AS n_hits
                 FROM sub_hits GROUP BY doc_id) hc
        ON sw.doc_id = hc.doc_id
      LEFT JOIN sub_clean c ON sw.doc_id = c.doc_id
    )
    SELECT * FROM doc_rows
    UNION ALL SELECT * FROM span_rows
    UNION ALL SELECT * FROM substr_rows
    """,
)
def c4_decontamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4 train/eval decontamination (operators/decontam.py — the
    GPT-3 appendix-C / Dolma n-gram overlap filter): eval = every
    37th document, train = the rest ∪ one PLANTED contaminated copy
    per eval doc (prefixed eval text at doc_id+200000 — shares all
    but the first few n-grams without being an exact duplicate).
    Family-tagged long format, both hash-checked:

    family='doc' — the GPT-3 whole-doc policy: distinct word-5-gram
    count, eval-overlap hit count, contamination ratio, ≥1-hit flag.

    family='span' (round 10, VERDICT r9 #3) — the Dolma/Llama-3
    policy: the union of hit [pos, pos+n) windows is REMOVED and the
    surviving ``clean_text`` kept (operators/decontam.py::
    decontaminate_spans); n_grams = gram positions, n_hits = hit
    positions, contamination_ratio = removed/total words. The oracle
    re-derives the exact surviving text per doc (positioned grams →
    hit-position anti-cover → ordered string_agg), so the hash match
    proves the span-cut text itself, not just counts.

    n=5 (not the production 13) because fixture docs are short; the
    operator's gram construction is word_shingles — the exact
    convention the c2_ngram_jaccard oracle already proves portable.
    ``hashed=False`` here so the join key is the gram STRING the
    DuckDB oracle can reproduce; production uses the xxhash64 default
    (8-byte probe keys, same semantics modulo 2^-64 collisions).

    family='substr' (round 11, VERDICT r10 #1) — exact SUBSTRING
    dedup (operators/decontam.py::dedup_substrings, the Lee et al.
    2022 EXACTSUBSTR recipe): corpus-INTERNAL duplicated spans — any
    5-gram present in >1 document — are removed from every
    occurrence. Its corpus is documents ∪ one planted prefixed copy
    per 23rd doc (doc_id+300000), so each planted pair's shared text
    must vanish from BOTH members while the prefix (and every
    unique doc) survives; the oracle re-derives gram doc-frequencies
    and the surviving text per doc, so the cut text itself is
    hash-checked like family='span'.

    Scale shape: the eval gram set is broadcast-small by construction
    (benchmarks, not corpora) → map-side semi-join probe over exploded
    train grams, partial-agg counts; the span cut adds one
    collect_set of hit positions per contaminated doc (bounded by doc
    length) and a pure-codegen word filter. Nothing scales with
    |train|×|eval|. The substr family's frequency table is
    corpus-sized instead — ONE gram-keyed aggregation + ONE
    gram-keyed semi-join, bucketed by gram hash, never all-pairs."""
    from timescale_cdc_spark.operators.decontam import (
        decontaminate,
        decontaminate_spans,
        dedup_substrings,
    )

    docs = t(spark, sf_dir, "documents").select("doc_id", "text")
    eval_docs = docs.filter(F.col("doc_id") % DECON_EVAL_MOD == 0)
    planted = eval_docs.select(
        (F.col("doc_id") + DECON_PLANT_OFFSET).alias("doc_id"),
        F.concat(F.lit(DECON_PLANT_PREFIX), F.col("text")).alias("text"),
    )
    train = docs.filter(
        F.col("doc_id") % DECON_EVAL_MOD != 0
    ).unionByName(planted)
    doc_rows = decontaminate(
        train,
        eval_docs,
        "text",
        "doc_id",
        n=DECON_NGRAM,
        min_hits=1,
        hashed=False,
    ).select(
        F.lit("doc").alias("family"),
        "doc_id",
        F.col("n_grams").cast("long").alias("n_grams"),
        F.col("n_hits").cast("long").alias("n_hits"),
        "contamination_ratio",
        "contaminated",
        F.lit(None).cast("string").alias("clean_text"),
    )
    span_rows = decontaminate_spans(
        train, eval_docs, "text", "doc_id", n=DECON_NGRAM, hashed=False
    ).select(
        F.lit("span").alias("family"),
        "doc_id",
        F.col("n_positions").cast("long").alias("n_grams"),
        F.col("n_hit_positions").cast("long").alias("n_hits"),
        F.col("removal_ratio").alias("contamination_ratio"),
        "contaminated",
        "clean_text",
    )
    sub_planted = docs.filter(F.col("doc_id") % SUBSTR_MOD == 0).select(
        (F.col("doc_id") + SUBSTR_OFF).alias("doc_id"),
        F.concat(F.lit(SUBSTR_PREFIX), F.col("text")).alias("text"),
    )
    sub_corpus = docs.unionByName(sub_planted)
    substr_rows = dedup_substrings(
        sub_corpus, "text", "doc_id", n=DECON_NGRAM, max_freq=1,
        freq="docs", hashed=False,
    ).select(
        F.lit("substr").alias("family"),
        "doc_id",
        F.col("n_positions").cast("long").alias("n_grams"),
        F.col("n_hit_positions").cast("long").alias("n_hits"),
        F.col("removal_ratio").alias("contamination_ratio"),
        F.col("duplicated").alias("contaminated"),
        "clean_text",
    )
    return doc_rows.unionByName(span_rows).unionByName(substr_rows)


# --------------------------------------------------------------------------
# C5 multimodal columns (storage layout + Arrow feature extraction)
# --------------------------------------------------------------------------

# DuckDB-side hex-nibble → int for the sha256-derived stub feature.
_HEXVAL = "(strpos('0123456789abcdef', substr(hx, {pos}, 1)) - 1)"
_BYTE = "({h} * 16 + {l})"
_U32_LE = " + ".join(
    _BYTE.format(
        h=_HEXVAL.format(pos=2 * i + 1), l=_HEXVAL.format(pos=2 * i + 2)
    )
    + f" * {256 ** i}"
    for i in range(4)
)


@register(
    "c5_multimodal",
    f"""
    WITH h AS (
      SELECT doc_id, source, text, sha256(text) AS hx FROM documents
    )
    SELECT doc_id AS media_id,
           'text/plain' AS mime,
           octet_length(encode(text)) AS n_bytes,
           source,
           floor(({_U32_LE}) / 4294967296.0 * 1000000) / 1000000 AS f0
    FROM h
    """,
)
def c5_multimodal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C5 multimodal pipeline, storage layout + feature extraction in
    one hash-checked result: binary payload + typed metadata struct
    (operators/multimodal.py::attach_payload — metadata predicates
    prune without touching payload bytes, the property that matters at
    100 TB), then mapInPandas feature extraction over the payloads
    (Arrow-batched; real media decode is honestly gated behind
    NotImplementedError — no media libs in this container — with the
    deterministic sha256-derived stub standing in).

    The oracle recomputes the stub's first feature lane (f0 =
    trunc6(first sha256 uint32-LE / 2^32)) and the UDF-computed byte
    count in SQL, so the WHOLE Arrow path — binary encode, batch
    iteration, per-payload digest, schema — is value-hash-verified,
    not just row-counted."""
    docs = t(spark, sf_dir, "documents")
    mm = attach_payload(docs, "doc_id", "text", "source")
    feats = extract_features(mm, fake=True)  # media_id, n_bytes, feature
    meta = mm.select(
        "media_id",
        F.col("meta.mime").alias("mime"),
        F.col("meta.source").alias("source"),
    )
    return feats.join(meta, "media_id").select(
        "media_id",
        "mime",
        "n_bytes",
        "source",
        F.element_at("feature", 1).alias("f0"),
    )
