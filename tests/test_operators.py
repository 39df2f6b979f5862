"""Tier C operator behavior tests: the probabilistic paths
(MinHash-LSH, SimHash, hyperplane ANN) are validated by planted-
duplicate recall and brute-force comparison — the oracle can't check
engine-specific hashes, so these assertions are the correctness story
(SURVEY.md §5)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from timescale_cdc_spark.catalog import load_table
from timescale_cdc_spark.durable import SWAP_TMP
from timescale_cdc_spark.operators.dedup import (
    exact_dedup,
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    simhash_pairs,
)
from timescale_cdc_spark.operators.multimodal import (
    attach_payload,
    decode_stub,
    extract_features,
)
from timescale_cdc_spark.operators.similarity import (
    brute_force_topk,
    hyperplane_lsh_topk,
)
from timescale_cdc_spark.operators.text import language_scores

from conftest import SF_DIR


def _sibling_sf_dir(tag: str) -> str:
    """Resolve a sibling scale-factor dir (e.g. 'sf0.01') relative to
    conftest's SF_DIR so the SPARK_GRAFT_TEST_SF_DIR override keeps
    working on machines with fixtures elsewhere (ADVICE r6)."""
    import os

    return os.path.join(os.path.dirname(SF_DIR.rstrip("/")), tag)


@pytest.fixture(scope="module")
def docs(spark, sf_dir):
    return load_table(spark, sf_dir, "documents").select("doc_id", "text")


@pytest.fixture(scope="module")
def planted(spark, sf_dir, docs):
    """Corpus with exact copies (doc_id+100000) and near-copies with
    one appended token (doc_id+200000)."""
    exact = docs.filter(F.col("doc_id") % 10 == 0).withColumn(
        "doc_id", F.col("doc_id") + 100000
    )
    near = docs.filter(F.col("doc_id") % 10 == 5).select(
        (F.col("doc_id") + 200000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" zzyzx")).alias("text"),
    )
    return docs.unionByName(exact).unionByName(near)


def test_exact_dedup_removes_planted_copies(docs, planted):
    n_orig = docs.count()
    kept = exact_dedup(planted, "text", "doc_id")
    # every copy collapses to the original (min doc_id), near-copies stay
    assert kept.count() == n_orig + planted.filter(F.col("doc_id") >= 200000).count()
    assert kept.filter((F.col("doc_id") >= 100000) & (F.col("doc_id") < 200000)).count() == 0


def test_minhash_finds_planted_pairs(docs, planted):
    pairs = minhash_lsh_pairs(planted, "text", "doc_id", threshold=0.5)
    got = {(r.id_a, r.id_b): r.jaccard_est for r in pairs.collect()}
    # every exact copy pair must be found with signature match ≈ 1
    for r in docs.filter(F.col("doc_id") % 10 == 0).collect():
        key = (r.doc_id, r.doc_id + 100000)
        assert key in got, f"missing planted exact pair {key}"
        assert got[key] == 1.0
    # near-copies (one token appended) should mostly surface too
    near_ids = [r.doc_id for r in docs.filter(F.col("doc_id") % 10 == 5).collect()]
    found_near = sum((i, i + 200000) in got for i in near_ids)
    assert found_near >= 0.8 * len(near_ids)


@pytest.mark.slow
def test_c2_registered_row_count_with_guard(spark, sf_dir):
    """VERDICT r4 #8: the registered c2_minhash_simhash query runs
    with the hot-bucket star-pairing cap (SKETCH_MAX_BUCKET) on the
    driver path. Round 15: the entry moved to portable=True lanes
    (VERDICT r14 #3) — comparisons here stay mode-matched, and the
    cap's ACTIVE semantics are now verified by the DuckDB oracle at
    sf0.1 (the portable hash zeroes fp bits 60-63, pushing one
    simhash chunk-3 bucket past the cap there); at THIS fixture scale
    the cap is inert in both modes: per-method row counts identical
    to the uncapped run — AND any future change that silently drops a
    method's rows fails here, not only in the driver artifact."""
    from timescale_cdc_spark.operators.dedup import simhash_pairs as sp
    from timescale_cdc_spark.queries.llm_queries import (
        _planted_docs,
        c2_minhash_simhash,
    )

    guarded = {
        r.method: r.n
        for r in c2_minhash_simhash(spark, sf_dir)
        .groupBy("method").agg(F.count("*").alias("n")).collect()
    }
    assert set(guarded) == {"minhash", "simhash"}, f"method dropout: {guarded}"
    corpus = _planted_docs(spark, sf_dir)
    for portable in (False, True):
        uncapped_mh = minhash_lsh_pairs(
            corpus, "text", "doc_id", threshold=0.5, portable=portable
        )
        uncapped_sh = sp(
            corpus, "text", "doc_id", max_hamming=3, portable=portable
        )
        if portable:
            # the gate's verification filter only ever REMOVES
            # estimate-vs-exact divergent pairs; candidate generation
            # itself must be unchanged by the inert cap (mode-matched:
            # the entry runs portable lanes)
            assert guarded["minhash"] <= uncapped_mh.count()
            assert guarded["simhash"] <= uncapped_sh.count()
        capped_mh = minhash_lsh_pairs(
            corpus, "text", "doc_id", threshold=0.5, max_bucket=256,
            portable=portable,
        )
        capped_sh = sp(
            corpus, "text", "doc_id", max_hamming=3, max_bucket=256,
            portable=portable,
        )
        assert capped_mh.count() == uncapped_mh.count(), portable
        assert capped_sh.count() == uncapped_sh.count(), portable


def test_portable_sketch_lanes_match_duckdb_bitwise(spark):
    """Round 15 (VERDICT r14 #3): the portable=True sketch lane
    primitives — the 60-bit sha256 word hash and the sentinel-joined
    shingle combine — must be BIT-EQUAL to their DuckDB
    re-derivations on adversarial tokens (empty string, unicode,
    whitespace-bearing, long), the det_hash contract extended to the
    sketch fronts. Everything downstream (affine folds, votes,
    banding) is integer arithmetic pinned by the registered entry's
    hash-matching oracle; THIS is the cross-engine seam."""
    import duckdb

    from pyspark.sql import functions as F

    words = ["hello", "", "ünïcode-émoji", "a b", "x" * 500, "\t"]
    df = spark.createDataFrame([(w,) for w in words], "w string")
    sp_hash = [
        r["h"]
        for r in df.select(
            F.expr(
                "cast(conv(substr(sha2(w, 256), 1, 15), 16, 10) as "
                "bigint)"
            ).alias("h")
        ).collect()
    ]
    con = duckdb.connect()
    dk_hash = [
        con.execute(
            "SELECT CAST(('0x' || substr(sha256(?), 1, 15)) AS BIGINT)",
            [w],
        ).fetchone()[0]
        for w in words
    ]
    assert sp_hash == dk_hash

    # shingle combine with a NULL (past-the-end) slot -> chr(30)
    # sentinel, unit-separator joined, 31-bit masked
    v = sp_hash[0]
    s_spark = spark.sql(
        f"SELECT cast(conv(substr(sha2(concat_ws(chr(31), "
        f"cast({v}L as string), chr(30)), 256), 1, 15), 16, 10) as "
        f"bigint) & 2147483647L AS h"
    ).first()["h"]
    s_duck = con.execute(
        f"SELECT CAST(('0x' || substr(sha256(concat_ws(chr(31), "
        f"CAST({v} AS VARCHAR), chr(30))), 1, 15)) AS BIGINT) "
        f"& 2147483647"
    ).fetchone()[0]
    assert s_spark == s_duck


def test_portable_sketches_pair_planted_duplicates(spark):
    """portable=True must keep the sketch SEMANTICS: identical texts
    sign identically (est 1.0 / hamming 0) and the portable pair set
    finds every planted identical pair, same as production mode."""
    from timescale_cdc_spark.operators.dedup import (
        minhash_lsh_pairs,
        simhash_pairs as sp,
    )

    rows = [(i, f"doc number {i} with unique filler {i * 7}") for i in range(20)]
    rows += [(100 + i, rows[i][1]) for i in range(10)]  # planted copies
    df = spark.createDataFrame(rows, "doc_id int, text string")
    mh = {
        (r.id_a, r.id_b): r.jaccard_est
        for r in minhash_lsh_pairs(
            df, "text", "doc_id", threshold=0.5, portable=True
        ).collect()
    }
    sh = {
        (r.id_a, r.id_b): r.hamming
        for r in sp(
            df, "text", "doc_id", max_hamming=3, portable=True
        ).collect()
    }
    for i in range(10):
        assert mh.get((i, 100 + i)) == 1.0
        assert sh.get((i, 100 + i)) == 0


def test_sketch_fronts_drop_null_text_docs(spark):
    """Round-13 regression (review finding): the zero-shuffle sketch
    fronts must keep the r12 explode-path semantics for NULL-text
    docs — no signature/fingerprint row at all. A per-doc fold that
    emits _fp=0 / all-NULL lanes instead would band every NULL-text
    doc into one bucket as mutual hamming-0 'duplicates'."""
    from timescale_cdc_spark.operators.dedup import (
        minhash_signatures,
        simhash_fingerprints,
        simhash_pairs as sp,
    )

    rows = [(1, None), (2, None), (3, "a b c d e"), (4, "a b c d e")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    assert minhash_signatures(df, "text", "doc_id").count() == 2
    assert simhash_fingerprints(df, "text", "doc_id").count() == 2
    assert sorted(
        (r.id_a, r.id_b)
        for r in sp(df, "text", "doc_id", max_hamming=3).collect()
    ) == [(3, 4)]
    assert sorted(
        (r.id_a, r.id_b)
        for r in minhash_lsh_pairs(
            df, "text", "doc_id", threshold=0.5
        ).collect()
    ) == [(3, 4)]


def test_simhash_finds_planted_pairs(docs, planted):
    pairs = simhash_pairs(planted, "text", "doc_id", max_hamming=3)
    got = {(r.id_a, r.id_b): r.hamming for r in pairs.collect()}
    for r in docs.filter(F.col("doc_id") % 10 == 0).collect():
        key = (r.doc_id, r.doc_id + 100000)
        assert key in got and got[key] == 0
    near_ids = [r.doc_id for r in docs.filter(F.col("doc_id") % 10 == 5).collect()]
    found_near = sum((i, i + 200000) in got for i in near_ids)
    assert found_near >= 0.6 * len(near_ids)


def test_ngram_jaccard_near_pairs(docs, planted):
    pairs = ngram_jaccard_pairs(planted, "text", "doc_id", threshold=0.8)
    got = {(r.id_a, r.id_b): r.jaccard for r in pairs.collect()}
    for r in docs.filter(F.col("doc_id") % 10 == 0).collect():
        assert got.get((r.doc_id, r.doc_id + 100000)) == 1.0
    # near-copies differ by ~3 shingles out of ~n — jaccard just below 1
    near_ids = [r.doc_id for r in docs.filter(F.col("doc_id") % 10 == 5).collect()]
    for i in near_ids:
        j = got.get((i, i + 200000))
        assert j is not None and 0.8 <= j < 1.0


def test_ngram_jaccard_df_pruning_exact(spark):
    """max_df cap (VERDICT r3 #1): ubiquitous shingles leave the
    blocking join but stay in the |∩| accounting, so every surviving
    pair's Jaccard is EXACT (identical to the uncapped value); the only
    pairs lost are those sharing *only* ubiquitous shingles."""
    boiler = "the quick brown fox jumps"
    rows = []
    # 20 docs sharing one boilerplate prefix (its shingles hit df=20)
    # with otherwise-unique tails → pairs share ONLY ubiq shingles
    for i in range(20):
        rows.append((i, boiler + f" u{i}a u{i}b u{i}c u{i}d u{i}e"))
    # one true near-dup pair sharing the boilerplate AND a rare tail
    rows.append((100, boiler + " shared tail words here alpha"))
    rows.append((101, boiler + " shared tail words here omega"))
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    uncapped = {
        (r.id_a, r.id_b): r.jaccard
        for r in ngram_jaccard_pairs(
            docs, "text", "doc_id", threshold=0.01
        ).collect()
    }
    capped = {
        (r.id_a, r.id_b): r.jaccard
        for r in ngram_jaccard_pairs(
            docs, "text", "doc_id", threshold=0.01, max_df=5
        ).collect()
    }
    # exactness: every capped pair carries the identical exact jaccard
    for k, v in capped.items():
        assert uncapped[k] == v, f"pair {k}: capped {v} != exact {uncapped[k]}"
    # the true near-dup pair (shares rare shingles) survives the cap
    assert (100, 101) in capped
    # pairs sharing only boilerplate are exactly the dropped ones
    dropped = set(uncapped) - set(capped)
    only_boiler = {(a, b) for a in range(20) for b in range(a + 1, 20)}
    only_boiler |= {(i, d) for i in range(20) for d in (100, 101)}
    assert dropped == only_boiler
    # ...and a cap that nothing exceeds is a no-op
    inert = {
        (r.id_a, r.id_b): r.jaccard
        for r in ngram_jaccard_pairs(
            docs, "text", "doc_id", threshold=0.01, max_df=1000
        ).collect()
    }
    assert inert == uncapped


def test_hot_bucket_star_pairing(spark):
    """max_bucket cap (VERDICT r3 #3): a planted identical cluster
    (every band bucket holds the whole cluster) switches from O(f²)
    all-pairs to O(f) star pairs against the bucket minimum — the pair
    graph still connects the entire cluster — while pairs in normal
    (under-cap) buckets are byte-identical to the uncapped result."""
    from timescale_cdc_spark.operators.components import connected_components
    from timescale_cdc_spark.operators.dedup import simhash_pairs

    cluster = [(i, "spam template words repeated all over again") for i in range(40)]
    base = " ".join(f"word{i}" for i in range(40))
    near = [(1000, base + " flowing"), (1001, base + " running")]
    unique = [(2000 + i, f"totally unrelated text number u{i}x u{i}y u{i}z") for i in range(5)]
    docs = spark.createDataFrame(cluster + near + unique, "doc_id long, text string")

    for fn, kwargs in (
        (minhash_lsh_pairs, {"threshold": 0.5}),
        (simhash_pairs, {"max_hamming": 3}),
    ):
        uncapped = {(r.id_a, r.id_b) for r in fn(docs, "text", "doc_id", **kwargs).collect()}
        capped_rows = fn(docs, "text", "doc_id", max_bucket=10, **kwargs).collect()
        capped = {(r.id_a, r.id_b) for r in capped_rows}
        name = fn.__name__
        # cluster collapses to the star rooted at doc 0
        assert {(0, j) for j in range(1, 40)} <= capped, name
        assert not any(a != 0 and a < 40 and b < 40 for a, b in capped), (
            f"{name}: non-star pair inside the hot cluster"
        )
        # normal-bucket pairs unchanged by the cap
        assert {(a, b) for a, b in uncapped if a >= 1000} == {
            (a, b) for a, b in capped if a >= 1000
        }, name
        assert (1000, 1001) in capped, name
        # the star still connects the full cluster transitively
        pair_df = spark.createDataFrame(
            [(a, b) for a, b in capped if b < 40], "id_a long, id_b long"
        )
        comp = {r.node for r in connected_components(pair_df).collect()}
        assert comp == set(range(40)), name


def test_expr_string_operators_quote_column_names(spark):
    """ADVICE r3 low: operators that build F.expr SQL strings must
    quote interpolated caller column names — a name with a space or
    dot previously failed to parse (or resolved as a struct field)."""
    from timescale_cdc_spark.operators.dedup import minhash_signatures
    from timescale_cdc_spark.operators.similarity import (
        _hyperplanes,
        sketch_bits,
    )

    docs = spark.createDataFrame(
        [(1, "a b c d e"), (2, "a b c d e")], ["doc_id", "my text.col"]
    )
    sigs = minhash_signatures(docs, "my text.col", "doc_id").collect()
    assert len(sigs) == 2 and sigs[0]._sig == sigs[1]._sig

    vecs = spark.createDataFrame(
        [(1, [0.5, -0.5, 0.25])], ["vec_id", "my vec.col"]
    )
    planes = _hyperplanes(num_planes=4, dim=3)
    row = vecs.select(
        sketch_bits("my vec.col", planes).alias("bits")
    ).collect()[0]
    assert isinstance(row.bits, int)

    # round-13 review regressions: the SQL-text fast paths must quote
    # interpolated names too (cosine string args; freq_rollup's
    # bucket_col)
    from timescale_cdc_spark.functions.freq import (
        freq_partials,
        freq_rollup,
    )
    from timescale_cdc_spark.operators.similarity import cosine

    pair = spark.createDataFrame(
        [([1.0, 0.0], [0.0, 1.0])], ["my vec", "other vec"]
    )
    assert pair.select(
        cosine("my vec", "other vec").alias("c")
    ).collect()[0].c == 0.0
    ev = spark.createDataFrame(
        [(1, "2024-01-01 00:10:00", "a")],
        "user_id long, ts string, event_type string",
    ).select(
        "user_id",
        F.col("ts").cast("timestamp").alias("my ts"),
        "event_type",
    )
    fp = freq_partials(
        ev, "my ts", ["user_id"], "event_type", "1 hour", 4
    ).withColumnRenamed("bucket", "my bucket")
    assert (
        freq_rollup(fp, ["user_id"], "1 day", bucket_col="my bucket")
        .count() == 1
    )


@pytest.mark.parametrize(
    "ann_sf_dir", [_sibling_sf_dir("sf0.001"), _sibling_sf_dir("sf0.01")]
)
def test_ann_recall_vs_brute_force(spark, ann_sf_dir):
    """Multi-probe hyperplane LSH must clear the production recall
    gate (0.5, queries/llm_queries.py::c3_ann_lsh_ivf) with ≥0.1
    margin at BOTH driver scale factors — round 4's regression was a
    sketch that passed 0.52 at sf0.001 and failed 0.36 at sf0.01."""
    em = load_table(spark, ann_sf_dir, "embeddings")
    queries = em.filter(F.col("vec_id") < 10)
    exact = brute_force_topk(em, queries, k=5)
    approx = hyperplane_lsh_topk(em, queries, k=5)
    exact_set = {(r.q_id, r.c_id) for r in exact.collect()}
    approx_set = {(r.q_id, r.c_id) for r in approx.collect()}
    recall = len(exact_set & approx_set) / len(exact_set)
    assert recall >= 0.6, f"ANN recall too low at {ann_sf_dir}: {recall}"
    exact_scores = {(r.q_id, r.c_id): r.cos for r in exact.collect()}
    for r in approx.collect():
        if (r.q_id, r.c_id) in exact_scores:
            assert exact_scores[(r.q_id, r.c_id)] == r.cos


def test_lsh_arrow_sketch_engine_matches_jvm(spark, sf_dir):
    """The numpy-matmul sketch engine (the million-vector throughput
    path, 6.7× at 1M — SCALE.md) must band identically to the JVM
    expression fold on the fixture corpus and return the same ranked
    neighbors."""
    em = load_table(spark, sf_dir, "embeddings")
    queries = em.filter(F.col("vec_id") < 10)
    jvm = {(r.q_id, r.c_id, r.rank, r.cos)
           for r in hyperplane_lsh_topk(em, queries, k=5).collect()}
    arrow = {(r.q_id, r.c_id, r.rank, r.cos)
             for r in hyperplane_lsh_topk(
                 em, queries, k=5, sketch_engine="arrow").collect()}
    assert jvm == arrow


@pytest.mark.parametrize("ann_sf", ["sf0.001", "sf0.01"])
@pytest.mark.slow
def test_c3_ann_registered_query_has_all_families(spark, ann_sf):
    """The registered c3_ann_lsh_ivf query self-gates each index
    family on recall@5 ≥ 0.5 (and the folded-in vec_gate rows on the
    zero-admitted-dups invariant) and silently DROPS a failing
    family's rows. Pin the full expected shape — 7 ANN families × 10
    queries × 5 (lsh, ivf, round 7's pq, round 8's residual ivfpq,
    round 10's sq8 scalar quantization, round 11's persisted
    sq8_index and residual ivf_sq8), plus one vec_gate row per
    distinct planted vector — so a future family dropout fails
    pytest, not just the driver's rows-only artifact (VERDICT r4
    #1/'process gap' #2)."""
    from timescale_cdc_spark.queries.llm_queries import c3_ann_lsh_ivf

    ann_sf_dir = _sibling_sf_dir(ann_sf)
    n_vecs = load_table(spark, ann_sf_dir, "embeddings").count()
    out = c3_ann_lsh_ivf(spark, ann_sf_dir)
    counts = {r.method: r.n for r in
              out.groupBy("method").agg(F.count("*").alias("n")).collect()}
    # vec_gate admits exactly one member per distinct vector: the
    # planted corpus duplicates vec_id % 50 == 0 under new ids, and
    # the gate must reject every copy (fixture vectors are random
    # unit vectors — no organic dups at these SFs).
    assert counts == {
        "lsh": 50,
        "ivf": 50,
        "pq": 50,
        "ivfpq": 50,
        "sq8": 50,
        "sq8_index": 50,
        "ivf_sq8": 50,
        "vec_gate": n_vecs,
    }, f"family dropout: {counts}"


def test_language_id_on_real_samples(spark):
    samples = [
        (1, "the cat sat on the mat and looked at the dog", "en"),
        (2, "der Hund und die Katze sind nicht in der Küche", "de"),
        (3, "el perro y la gata que viven en la casa", "es"),
        (4, "le chien est dans la maison et le chat est pour toi", "fr"),
        (5, "我 的 人 在 有 不 是 了", "zh"),
    ]
    df = spark.createDataFrame(samples, "doc_id long, text string, lang string")
    out = language_scores(df, "text").select("doc_id", "lang", "predicted_lang")
    for r in out.collect():
        assert r.predicted_lang == r.lang, f"doc {r.doc_id}: {r.predicted_lang} != {r.lang}"


def test_multimodal_stub_and_determinism(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    mm = attach_payload(docs, "doc_id", "text", "source")
    # metadata is queryable without touching payloads
    assert mm.filter(F.col("meta.n_bytes") > 0).count() == docs.count()
    feats = extract_features(mm, fake=True)
    rows = feats.orderBy("media_id").limit(5).collect()
    assert all(len(r.feature) == 8 for r in rows)
    # deterministic across runs
    rows2 = extract_features(mm, fake=True).orderBy("media_id").limit(5).collect()
    assert [r.feature for r in rows] == [r.feature for r in rows2]
    # real decode is explicitly gated
    with pytest.raises(NotImplementedError):
        decode_stub(b"payload", fake=False)


def test_multimodal_resize_and_frame_sample(spark, sf_dir):
    """C5 resize + frame-sample plumbing: deterministic stub payloads,
    correct shapes/metadata, bounded fan-out, real gating of the
    library-dependent step."""
    from timescale_cdc_spark.operators.multimodal import (
        resize_images,
        resize_stub,
        sample_frames,
    )

    docs = load_table(spark, sf_dir, "documents").limit(20)
    mm = attach_payload(docs, "doc_id", "text", "source")

    thumbs = resize_images(mm, width=8, height=8)
    rows = thumbs.orderBy("media_id").limit(5).collect()
    assert all(len(r.payload) == 64 for r in rows)
    assert all(r.meta.mime == "image/x-thumb" and r.meta.width == 8 for r in rows)
    rows2 = resize_images(mm, width=8, height=8).orderBy("media_id").limit(5).collect()
    assert [bytes(r.payload) for r in rows] == [bytes(r.payload) for r in rows2]

    frames = sample_frames(mm, every_n_bytes=64, max_frames=4)
    per_doc = {r["media_id"]: r["n"] for r in
               frames.groupBy("media_id").agg(F.count("*").alias("n")).collect()}
    assert all(1 <= n <= 4 for n in per_doc.values())
    f0 = frames.filter((F.col("media_id") == rows[0].media_id)
                       & (F.col("frame_no") == 0)).first()
    assert len(f0.frame) <= 64

    with pytest.raises(NotImplementedError):
        resize_stub(b"payload", 8, 8, fake=False)


def test_ivf_recall_vs_brute_force(spark, sf_dir):
    from timescale_cdc_spark.operators.similarity import ivf_topk

    em = load_table(spark, sf_dir, "embeddings")
    queries = em.filter(F.col("vec_id") < 10)
    exact = {(r.q_id, r.c_id) for r in brute_force_topk(em, queries, k=5).collect()}
    approx_rows = ivf_topk(em, queries, k=5).collect()
    approx = {(r.q_id, r.c_id) for r in approx_rows}
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.5, f"IVF recall too low: {recall}"
    # every query returns k results (probed cells are never empty here)
    from collections import Counter

    per_q = Counter(r.q_id for r in approx_rows)
    assert all(v == 5 for v in per_q.values())


@pytest.mark.slow
def test_curation_pipeline_stages_and_provenance(spark, sf_dir):
    """curate() composes quality→exact-dedup→near-dedup with full
    provenance: every input doc is tagged kept/drop_reason, survivors
    carry token stats, and each planted artifact lands in the right
    bucket."""
    from timescale_cdc_spark.operators.curation import curate, curation_report

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    planted = docs.limit(0).sparkSession.createDataFrame(
        [
            (900001, "x"),  # fails min_tokens / quality
            (900002, None),  # exact copy of doc 0 (filled below)
        ],
        "doc_id long, text string",
    )
    first_text = docs.orderBy("doc_id").first()["text"]
    planted = planted.withColumn(
        "text", F.coalesce("text", F.lit(first_text))
    )
    corpus = docs.unionByName(planted)

    out = curate(corpus).persist()
    n_in = corpus.count()
    assert out.count() == n_in  # every input doc is accounted for

    by_id = {r["doc_id"]: r for r in out.filter(F.col("doc_id") > 900000).collect()}
    assert by_id[900001]["kept"] is False
    assert by_id[900001]["drop_reason"] == "quality"
    # exact copy: exactly one of (doc 0, 900002) survives exact dedup,
    # and the keeper is the LOWER id
    assert by_id[900002]["kept"] is False
    assert by_id[900002]["drop_reason"] in ("exact_dup", "near_dup")

    kept = out.filter(F.col("kept"))
    assert kept.filter(F.col("ws_tokens").isNull()).count() == 0
    dropped = out.filter(~F.col("kept"))
    assert dropped.filter(F.col("drop_reason").isNull()).count() == 0

    report = {(r["kept"], r["drop_reason"]): r["n_docs"]
              for r in curation_report(out).collect()}
    assert sum(report.values()) == n_in
    assert report.get((True, None), 0) > 0
    out.unpersist()

    # ADVICE r10: curate()'s internal stage-boundary persists
    # (exact_kept, lexical) are tracked and releasable — a long-lived
    # session calling curate() repeatedly must not accumulate
    # MEMORY_AND_DISK entries forever.
    from timescale_cdc_spark.operators.curation import (
        _CURATE_PERSISTED,
        release_curate_caches,
    )

    assert len(_CURATE_PERSISTED) >= 2  # this call's two boundaries
    handles = list(_CURATE_PERSISTED)
    released = release_curate_caches()
    assert released == len(handles)
    assert not _CURATE_PERSISTED
    assert all(not h.is_cached for h in handles)


def test_arrow_scoring_engine_matches_jvm(spark, sf_dir):
    """cosine_arrow (numpy batch) must agree with the JVM fold at the
    4-dp rounding every scorer output goes through."""
    em = load_table(spark, sf_dir, "embeddings")
    queries = em.filter(F.col("vec_id") < 10)
    jvm = {(r.q_id, r.c_id): r.cos
           for r in brute_force_topk(em, queries, k=5, engine="jvm").collect()}
    arrow = {(r.q_id, r.c_id): r.cos
             for r in brute_force_topk(em, queries, k=5, engine="arrow").collect()}
    assert set(jvm) == set(arrow)
    for pair, cos in jvm.items():
        assert abs(arrow[pair] - cos) <= 1e-4, (pair, cos, arrow[pair])


def test_matmul_topk_matches_jvm(spark, sf_dir):
    """brute_force_topk_matmul (corpus-once matmul + map-side top-K)
    returns the same ranked neighbors as the JVM pairwise scorer."""
    from timescale_cdc_spark.operators.similarity import brute_force_topk_matmul

    em = load_table(spark, sf_dir, "embeddings")
    queries = em.filter(F.col("vec_id") < 10)
    jvm = {(r.q_id, r.c_id, r.rank): r.cos
           for r in brute_force_topk(em, queries, k=5).collect()}
    mat = {(r.q_id, r.c_id, r.rank): r.cos
           for r in brute_force_topk_matmul(em, queries, k=5).collect()}
    assert set(jvm) == set(mat)
    for key, cos in jvm.items():
        assert abs(mat[key] - cos) <= 1e-4


@pytest.mark.slow
def test_ivf_index_persisted_build_query(spark, sf_dir, tmp_path):
    """Persisted IVF index: build-once equals the in-line ivf_topk
    (same quantizer seed), the corpus read is partition-pruned to the
    probed cells, and results survive an index reload."""
    from timescale_cdc_spark.operators.ann_index import IvfIndex
    from timescale_cdc_spark.operators.similarity import ivf_topk

    em = load_table(spark, sf_dir, "embeddings")
    queries = em.filter(F.col("vec_id") < 10)

    idx = IvfIndex(spark, str(tmp_path / "ivf")).build(em, n_clusters=16)
    got = idx.topk(queries, k=5, n_probe=4)

    # partition pruning reaches the corpus scan
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "_cell" in plan

    inline = {(r.q_id, r.c_id, r.cos) for r in ivf_topk(em, queries, k=5).collect()}
    persisted = {(r.q_id, r.c_id, r.cos) for r in got.collect()}
    assert persisted == inline

    # a fresh handle over the same path serves identical results
    reloaded = IvfIndex(spark, str(tmp_path / "ivf")).topk(queries, k=5, n_probe=4)
    assert {(r.q_id, r.c_id, r.cos) for r in reloaded.collect()} == inline


def test_ivf_index_sampled_build_recall(spark, sf_dir, tmp_path):
    """Quantizer fit on a sample (the billion-vector move) still gives
    sane recall vs brute force on the full corpus."""
    from timescale_cdc_spark.operators.ann_index import IvfIndex

    em = load_table(spark, sf_dir, "embeddings")
    queries = em.filter(F.col("vec_id") < 10)
    idx = IvfIndex(spark, str(tmp_path / "ivf_s")).build(
        em, n_clusters=8, sample_fraction=0.5
    )
    approx = {(r.q_id, r.c_id) for r in idx.topk(queries, k=5, n_probe=3).collect()}
    exact = {(r.q_id, r.c_id) for r in brute_force_topk(em, queries, k=5).collect()}
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.5, f"sampled-build IVF recall too low: {recall}"


@pytest.mark.slow
def test_ivf_index_append_and_staleness(spark, sf_dir, tmp_path):
    """Round-4 VERDICT #5: a CDC-fed index must absorb inserts. Build
    at 90% of the corpus, append the other 10% (frozen centroids,
    partition-local append), and the maintained index's top-K over the
    FULL corpus must match a fresh full-corpus build within recall
    tolerance. staleness() reports the append and flips its rebuild
    flag once the appended share crosses the threshold."""
    from timescale_cdc_spark.operators.ann_index import IvfIndex

    em = load_table(spark, sf_dir, "embeddings")
    base = em.filter(F.col("vec_id") % 10 != 0)   # 90%
    extra = em.filter(F.col("vec_id") % 10 == 0)  # 10%
    queries = em.filter(F.col("vec_id") < 10)

    idx = IvfIndex(spark, str(tmp_path / "ivf_m")).build(base, n_clusters=8)
    idx.append(extra)

    s = idx.staleness()
    assert s["n_now"] == em.count()
    assert abs(s["appended_fraction"] - extra.count() / em.count()) < 1e-9
    assert not s["rebuild_recommended"], s  # 10% < the 25% trigger

    fresh = IvfIndex(spark, str(tmp_path / "ivf_f")).build(em, n_clusters=8)
    got_m = {(r.q_id, r.c_id) for r in idx.topk(queries, k=5, n_probe=3).collect()}
    got_f = {(r.q_id, r.c_id) for r in fresh.topk(queries, k=5, n_probe=3).collect()}
    # same data, quantizers differ by the 10% the maintained fit never
    # saw — the neighbor sets must substantially agree
    overlap = len(got_m & got_f) / len(got_f)
    assert overlap >= 0.6, f"maintained vs fresh-built divergence: {overlap}"

    # appended vectors are REACHABLE: an appended vector queried for
    # itself must find identical-id-free neighbors from its own cell
    assert idx.corpus().count() == em.count()

    # pushing appends past the threshold flips the rebuild flag
    idx.append(em.withColumn("vec_id", F.col("vec_id") + 1_000_000))
    s2 = idx.staleness()
    assert s2["appended_fraction"] > 0.25 and s2["rebuild_recommended"]

    # cell-granular compaction collapses append fragmentation without
    # changing contents: identical top-K before/after
    before = {(r.q_id, r.c_id, r.cos)
              for r in idx.topk(queries, k=5, n_probe=3).collect()}
    rewritten = idx.compact()
    assert rewritten == idx.corpus().count()
    import glob
    import os
    for cell_dir in glob.glob(os.path.join(str(tmp_path / "ivf_m"),
                                           "corpus", "_cell=*")):
        files = [f for f in os.listdir(cell_dir) if f.endswith(".parquet")]
        assert len(files) == 1, (cell_dir, files)
    after = {(r.q_id, r.c_id, r.cos)
             for r in idx.topk(queries, k=5, n_probe=3).collect()}
    assert after == before


@pytest.mark.slow
def test_lsh_index_build_append_query(spark, sf_dir, tmp_path):
    """Persisted LSH index: because the sketch is data-independent,
    build(90%) + append(10%) must equal the inline operator over the
    FULL corpus exactly — zero recall decay from appends (the
    structural contrast with IvfIndex's frozen quantizer), and a fresh
    handle over the same path serves identical results."""
    from timescale_cdc_spark.operators.ann_index import LshIndex

    em = load_table(spark, sf_dir, "embeddings")
    base = em.filter(F.col("vec_id") % 10 != 0)
    extra = em.filter(F.col("vec_id") % 10 == 0)
    queries = em.filter(F.col("vec_id") < 10)

    # prefix_bits=2 exercises the at-scale key-prefix layout (the
    # default flat layout is the measured local-scale choice, SCALE.md)
    idx = LshIndex(spark, str(tmp_path / "lsh")).build(base, prefix_bits=2)
    idx.append(extra)
    inline = {(r.q_id, r.c_id, r.rank, r.cos)
              for r in hyperplane_lsh_topk(
                  em, queries, k=5, sketch_engine="arrow").collect()}
    got = idx.topk(queries, k=5)
    # probed (band, key-prefix) literals must prune the banded scan
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "kp" in plan
    persisted = {(r.q_id, r.c_id, r.rank, r.cos) for r in got.collect()}
    assert persisted == inline

    # the default flat layout serves the identical result
    flat = LshIndex(spark, str(tmp_path / "lsh_flat")).build(em)
    assert {(r.q_id, r.c_id, r.rank, r.cos)
            for r in flat.topk(queries, k=5).collect()} == inline

    reloaded = LshIndex(spark, str(tmp_path / "lsh")).topk(queries, k=5)
    assert {(r.q_id, r.c_id, r.rank, r.cos)
            for r in reloaded.collect()} == inline


def test_embedding_dup_pairs_lsh_equals_exact(spark, sf_dir):
    """The registered LSH-bucketed embedding near-dup operator must
    reproduce the exact all-pairs result on the planted corpus
    (verification is exact; identical vectors share every band)."""
    from timescale_cdc_spark.operators.similarity import (
        embedding_dup_pairs,
        embedding_dup_pairs_exact,
    )

    em = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    copies = em.filter(F.col("vec_id") % 50 == 0).withColumn(
        "vec_id", F.col("vec_id") + 100000
    )
    corpus = em.unionByName(copies)
    lsh = {
        (r.id_a, r.id_b) for r in embedding_dup_pairs(corpus, 0.99).collect()
    }
    exact = {
        (r.id_a, r.id_b)
        for r in embedding_dup_pairs_exact(corpus, 0.99).collect()
    }
    assert lsh == exact and len(exact) > 0


def test_embedding_dup_pairs_idonly_path_identical(spark, sf_dir):
    """Round 16 (VERDICT r15 #6): the scale-adaptive id-only-bands +
    attach-vectors path must be output-identical to the
    payload-through-join path (rows AND schema), and the auto switch
    must pick payload-through on the small fixture corpus while the
    id-only plan stays cartesian-free."""
    from timescale_cdc_spark.operators.similarity import (
        _estimated_plan_bytes,
        embedding_dup_pairs,
    )

    em = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    copies = em.filter(F.col("vec_id") % 50 == 0).withColumn(
        "vec_id", F.col("vec_id") + 100000
    )
    corpus = em.unionByName(copies)
    payload = embedding_dup_pairs(corpus, 0.99, carry_payload=True)
    idonly = embedding_dup_pairs(corpus, 0.99, carry_payload=False)
    assert payload.schema == idonly.schema
    assert payload.exceptAll(idonly).count() == 0
    assert idonly.exceptAll(payload).count() == 0
    assert payload.count() > 0
    # auto: fixture estimate is ~MBs, far under the 64 MB threshold
    assert _estimated_plan_bytes(corpus) < 64 << 20
    # the scale path must never degenerate into an all-pairs join
    from timescale_cdc_spark.plans import formatted_plan

    plan = formatted_plan(idonly)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_salted_join_equals_plain_join(spark, sf_dir):
    from timescale_cdc_spark.operators.skew import key_histogram, salted_join

    od = load_table(spark, sf_dir, "orders").select("o_custkey", "o_orderkey")
    cu = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("o_custkey"), "c_mktsegment"
    )
    plain = (
        od.join(cu, "o_custkey")
        .groupBy("c_mktsegment")
        .count()
        .collect()
    )
    salted = (
        salted_join(od, cu, "o_custkey", salt=4)
        .groupBy("c_mktsegment")
        .count()
        .collect()
    )
    assert {(r.c_mktsegment, r["count"]) for r in plain} == {
        (r.c_mktsegment, r["count"]) for r in salted
    }
    hot = key_histogram(od, "o_custkey", top=3).collect()
    assert len(hot) == 3 and hot[0]["n"] >= hot[-1]["n"]


def test_winnow_fingerprints_overlap_guarantee(spark):
    """Winnowing invariants: identical docs → identical fingerprint
    sets; a shared substring of length >= k+window-1 yields >=1 common
    fingerprint; disjoint texts share (almost) nothing; whitespace/
    case normalization holds."""
    from timescale_cdc_spark.operators.text import winnow_fingerprints

    shared = "the quick brown fox jumps over the lazy dog near the river bank"
    docs = spark.createDataFrame(
        [
            (1, f"PREFIX AAA {shared} suffix one"),
            (2, f"totally different opening {shared} and another ending"),
            (3, "unrelated content with no overlap whatsoever in this text"),
            (4, f"prefix aaa {shared} SUFFIX ONE"),  # case/space variant of 1
        ],
        "doc_id long, text string",
    )
    fps = {r.doc_id: set(r.fingerprints)
           for r in winnow_fingerprints(docs, "text", k=8, window=4).collect()}
    assert fps[1] == fps[4]  # normalization → identical sets
    assert fps[1] & fps[2], "shared substring must share a fingerprint"
    overlap_13 = len(fps[1] & fps[3]) / max(len(fps[1]), 1)
    assert overlap_13 < 0.2, f"disjoint docs overlap too much: {overlap_13}"


@pytest.mark.slow
def test_streaming_near_dedup_gate(spark, tmp_path):
    """C2 ⊕ B45: the streaming near-dup gate must drop near-copies of
    docs admitted in EARLIER batches (persisted signature index),
    resolve within-batch pairs keep-lowest-id, and replay a batch
    idempotently (B48 pattern: per-batch index partition overwrite +
    self-exclusion)."""
    from timescale_cdc_spark.operators.curation import StreamingNearDedup

    base = ("the quick brown fox jumps over the lazy dog while rain "
            "falls gently on the quiet village roofs and children "
            "watch from warm windows counting drops")
    other = ("completely different content about distributed query "
             "engines shuffling partitions across executors with "
             "adaptive planning and broadcast joins at terabyte scale")
    third = ("a third unrelated document describing alpine meadows "
             "full of wildflowers where marmots whistle warnings "
             "across sunlit granite slopes every summer morning")

    gate = StreamingNearDedup(spark, str(tmp_path / "sig_index"))

    b1 = spark.createDataFrame(
        [(1, base), (2, other)], "doc_id long, text string")
    s1 = {r.doc_id for r in gate.process_batch(b1, 0).collect()}
    assert s1 == {1, 2}

    # batch 2: 3 is a near-copy of 1 (cross-batch dup), 4 is new
    b2 = spark.createDataFrame(
        [(3, base.replace("lazy", "sleepy")), (4, third)],
        "doc_id long, text string")
    s2 = {r.doc_id for r in gate.process_batch(b2, 1).collect()}
    assert s2 == {4}

    # batch 3: 5 dups 4 cross-batch; 6/7 dup each other within-batch
    b3 = spark.createDataFrame(
        [(5, third), (6, other + " extra"), (7, other + " extra")],
        "doc_id long, text string")
    s3 = {r.doc_id for r in gate.process_batch(b3, 2).collect()}
    # 6 also near-dups doc 2 (admitted batch 1) -> dropped by the
    # index check; 7 dropped either way
    assert s3 == set()

    # replay batch 2 (same batch_id): identical survivors, index not
    # double-counted
    s2_replay = {r.doc_id for r in gate.process_batch(b2, 1).collect()}
    assert s2_replay == {4}
    idx_ids = {r._id for r in gate.index().select("_id").distinct().collect()}
    assert idx_ids == {1, 2, 4}

    # compaction merges the per-batch partitions without changing
    # lookup behavior or replay idempotence
    removed = gate.compact()
    assert removed == 3
    assert gate.compact() == 0  # single generation left → no-op
    idx_ids = {r._id for r in gate.index().select("_id").distinct().collect()}
    assert idx_ids == {1, 2, 4}
    b4 = spark.createDataFrame(
        [(8, base.replace("dog", "cat")), (9, "fresh short unrelated "
         "words about nothing previously indexed here at all today")],
        "doc_id long, text string")
    s4 = {r.doc_id for r in gate.process_batch(b4, 3).collect()}
    assert s4 == {9}  # 8 still near-dups doc 1 through the compacted base
    # replaying an OLD batch after compaction stays idempotent: its
    # docs meet their own compacted signatures only as same-id matches
    s2_post_compact = {r.doc_id for r in gate.process_batch(b2, 1).collect()}
    assert s2_post_compact == {4}

    # same-id re-ingest in a NEW batch is idempotent by design
    # (identity defines a replay; content dedup applies to new ids):
    # doc 4 re-posted under its own id is admitted, under a new id is
    # rejected
    b5 = spark.createDataFrame(
        [(4, third), (40, third)], "doc_id long, text string")
    s5 = {r.doc_id for r in gate.process_batch(b5, 4).collect()}
    assert s5 == {4}


@pytest.mark.slow
def test_streaming_near_dedup_takedown_mid_stream(spark, tmp_path):
    """Round 15 (VERDICT r14 #4): BandedIndexStore.delete() between
    micro-batches — the deleted doc's signatures stop suppressing
    IMMEDIATELY (tombstone anti-join on every lookup), a later
    near-copy is admitted where it would have been dropped, compact()
    physically purges the rows and clears the tombstones, and an
    un-compacted tombstone keeps even a same-id re-ingest suppressed
    on the read side (id-level tombstones)."""
    import os

    from timescale_cdc_spark.operators.curation import StreamingNearDedup

    base = ("the quick brown fox jumps over the lazy dog while rain "
            "falls gently on the quiet village roofs and children "
            "watch from warm windows counting drops")
    other = ("completely different content about distributed query "
             "engines shuffling partitions across executors with "
             "adaptive planning and broadcast joins at terabyte scale")

    gate = StreamingNearDedup(spark, str(tmp_path / "idx"))
    b1 = spark.createDataFrame(
        [(1, base), (2, other)], "doc_id long, text string")
    assert {r.doc_id for r in gate.process_batch(b1, 0).collect()} == {1, 2}

    # takedown of doc 1 between batches (DataFrame form, caller col)
    victims = spark.createDataFrame([(1,)], "doc_id long")
    assert gate.delete(victims, id_col="doc_id") == 1
    assert gate.delete([1]) == 0  # idempotent (already tombstoned)
    assert {r._id for r in gate.index().select("_id").collect()} == {2}

    # the near-copy of the DELETED doc is admitted; a copy of the
    # still-live doc 2 keeps getting dropped
    b2 = spark.createDataFrame(
        [(3, base.replace("lazy", "sleepy")), (4, other + " extra")],
        "doc_id long, text string")
    assert {r.doc_id for r in gate.process_batch(b2, 1).collect()} == {3}

    # compact purges physically and clears the tombstone dir
    assert gate.compact() > 0
    assert not os.path.isdir(str(tmp_path / "idx" / "tombstones"))
    assert {r._id for r in gate.index().select("_id").distinct().collect()} \
        == {2, 3}
    # post-compact, doc 1's slot is truly gone: a fresh near-copy of
    # base still matches doc 3 (the admitted copy), so the corpus
    # semantics carried over to the new generation
    b3 = spark.createDataFrame(
        [(5, base.replace("dog", "cat"))], "doc_id long, text string")
    assert {r.doc_id for r in gate.process_batch(b3, 2).collect()} == set()

    # merge the (empty) batch-2 dir into the generation, then pin the
    # forced-compaction path: a SINGLE leftover generation would
    # early-exit on dir count alone, but an outstanding tombstone
    # must still trigger the physical purge
    assert gate.compact() > 0
    assert gate.compact() == 0  # single gen, no tombstones → no-op
    assert gate.delete([3]) == 1
    assert gate.compact() > 0   # forced by the tombstone
    assert not os.path.isdir(str(tmp_path / "idx" / "tombstones"))
    assert {r._id for r in gate.index().select("_id").distinct().collect()} \
        == {2}


def test_streaming_near_dedup_attach_end_to_end(spark, tmp_path):
    """The attach() wrapper runs the gate inside a real streaming
    query (availableNow) and lands survivors in per-batch partitions."""
    from timescale_cdc_spark.operators.curation import StreamingNearDedup

    doc = ("one sentence long enough to shingle about harvest moons "
           "rising over quiet fields where owls patrol the hedgerows "
           "hunting mice between the rows of cut wheat")
    src = str(tmp_path / "src")
    spark.createDataFrame(
        [(1, doc), (2, doc.replace("owls", "hawks"))],
        "doc_id long, text string",
    ).write.parquet(src)

    gate = StreamingNearDedup(spark, str(tmp_path / "idx"))
    stream = spark.readStream.schema("doc_id long, text string").parquet(src)
    q = gate.attach(
        stream, str(tmp_path / "out"), str(tmp_path / "ckpt")
    )
    q.processAllAvailable()
    q.stop()
    out = spark.read.parquet(str(tmp_path / "out"))
    assert {r.doc_id for r in out.collect()} == {1}


@pytest.mark.slow
def test_c2_streaming_registered_row_count(spark):
    """Pin the registered streaming-gate query's shape at the driver's
    SF (the rows-only count IS the signal — 0 rows in a method means
    that method's in-plan invariant fired; a different count means the
    batch split, gate semantics, or semdedup clustering changed).

    stream_gate: 478 admitted survivors — the 476 fixture survivors
    of rounds ≤14 plus the round-15 takedown plants S'(900001) and
    T(900003) (S deleted mid-stream and excluded, T' suppressed by
    the control pair — VERDICT r14 #4). semdedup: 500 kept vectors —
    the original embeddings table exactly, because every planted copy
    deduped and both gates held (a gate trip zeroes the method).
    curate: 794 verdict rows — one per corpus doc (round 11: the 666
    round-10 corpus plus 58 duplicated-span plants, two per 17th base
    doc; round 12: plus 44 overrepresented-source plants and 26 URL
    re-crawl plants), present only because all NINE composition gates
    held (conservation, junk→quality, contaminated-never-kept, zero
    exact/near detector pairs among the kept set, ≤1 survivor per
    semantic pair, every substr plant dropped at the substr stage,
    the planted source cut to exactly CURATE_SRC_CAP at the cap
    stage, every URL re-crawl dropped as url_dup and no original
    ever url-dropped).
    The per-stage split is additionally pinned so a stage silently
    swallowed by an earlier one (e.g. substr eating the near-dup
    plants — the max_freq=2 tolerance exists exactly for that) fails
    here, not in a later round's adjudication."""
    from timescale_cdc_spark.queries.llm_queries import c2_streaming_near_dedup

    out = c2_streaming_near_dedup(spark, _sibling_sf_dir("sf0.01"))
    per_method = {
        r["method"]: r["n"]
        for r in out.groupBy("method").agg(F.count("*").alias("n")).collect()
    }
    assert per_method == {
        "stream_gate": 478, "semdedup": 500, "curate": 794,
        # 500 held-out docs (250 clean + 250 planted junk), present
        # only because the accuracy and probability-separation gates
        # held (round 10, quality_model)
        "quality_model": 500,
    }, per_method
    # every curate stage exercised: kept, quality, contaminated,
    # exact, near, semantic, substr, source_capped, url_dup all
    # non-empty
    stages = {
        r["id_b"]: r["n"]
        for r in out.filter(F.col("method") == "curate")
        .groupBy("id_b").agg(F.count("*").alias("n")).collect()
    }
    assert set(stages) == {0, 1, 2, 3, 4, 5, 6, 7, 8}, stages
    assert stages[4] >= 50, f"near-dup stage starved: {stages}"
    assert stages[6] >= 58, f"substr stage below its plant count: {stages}"
    # round 12: 44 source plants minus the cap of 5 drop at the cap
    # stage; every one of the 26 URL re-crawls drops as url_dup
    assert stages[7] == 39, f"source cap stage: {stages}"
    assert stages[8] == 26, f"url dedup stage: {stages}"


@pytest.mark.slow
def test_streaming_near_dedup_transitive_option(spark, tmp_path):
    """transitive=True resolves within-batch groups by exact connected
    components: with pairs (3,9) and (5,9) in one batch, the greedy
    star pass keeps BOTH local minima 3 and 5; the transitive gate
    keeps only the component minimum 3."""
    from timescale_cdc_spark.operators.curation import StreamingNearDedup

    hub = ("shared hub sentence with many common words linking both "
           "documents through one near duplicate bridge text body")
    rows = [
        (3, hub + " alpha"),
        (5, hub + " omega"),
        (9, hub),
    ]
    # verify the premise: (3,9) and (5,9) pair, (3,5) does not
    pairs = {
        (r.id_a, r.id_b)
        for r in minhash_lsh_pairs(
            spark.createDataFrame(rows, "doc_id long, text string"),
            "text", "doc_id", threshold=0.5,
        ).collect()
    }
    assert (3, 9) in pairs and (5, 9) in pairs

    for transitive, expect in ((False, {3, 5} if (3, 5) not in pairs else {3}),
                               (True, {3})):
        gate = StreamingNearDedup(
            spark, str(tmp_path / f"idx_t{transitive}"), transitive=transitive
        )
        df = spark.createDataFrame(rows, "doc_id long, text string")
        got = {r.doc_id for r in gate.process_batch(df, 0).collect()}
        assert got == expect, (transitive, got)


@pytest.mark.slow
def test_streaming_near_dedup_bucket_pruned_lookup(spark, tmp_path):
    """Round-7 scale fix (VERDICT r6 #2): after compact(), the
    per-batch index lookup must open ONLY the (band, bp) leaf dirs the
    batch's own buckets hash into — per-batch input files/bytes are
    bounded by batch × bands, not by the admitted corpus — while
    admission decisions stay identical (pruning is lossless)."""
    import os

    from timescale_cdc_spark.operators.curation import StreamingNearDedup

    corpus = spark.range(200).select(
        F.col("id").alias("doc_id"),
        F.concat_ws(
            " ",
            *[
                F.concat(
                    F.lit(f"w{w}_"),
                    F.pmod(F.xxhash64("id", F.lit(w)), F.lit(4000)),
                )
                for w in range(30)
            ],
        ).alias("text"),
    )
    # two batch dirs so compact() has something to merge (a single
    # source is a no-op by the <=1 rule)
    gate2 = StreamingNearDedup(spark, str(tmp_path / "idx2"), prefix_mod=16)
    gate2.process_batch(corpus.filter("doc_id < 100"), 0).count()
    gate2.process_batch(corpus.filter("doc_id >= 100"), 1).count()
    assert gate2.compact() == 2
    assert gate2._gen_dirs() == ["gen=-1"]
    assert gate2._gen_meta("gen=-1")["prefix_mod"] == 16

    # one-doc batch: a near-copy of doc 0 (cross-batch dup)
    probe = corpus.filter("doc_id = 0").select(
        (F.col("doc_id") + 5000).alias("doc_id"),
        F.regexp_replace("text", "w29_", "w29x_").alias("text"),
    )
    sigs = gate2._banded(probe)
    pruned_files = gate2._base_df(sigs).inputFiles()
    full_files = gate2._base_df().inputFiles()
    # 1 doc × 16 bands → ≤16 touched leaves; the full base holds ~256
    assert 0 < len(pruned_files) <= 16
    assert len(pruned_files) < len(full_files) / 4
    assert set(pruned_files) <= set(full_files)
    pruned_bytes = sum(
        os.path.getsize(f.removeprefix("file:")) for f in pruned_files
    )
    full_bytes = sum(
        os.path.getsize(f.removeprefix("file:")) for f in full_files
    )
    assert pruned_bytes < full_bytes / 4
    # and the pruned lookup still catches the dup
    assert gate2.process_batch(probe, 2).count() == 0

    # bulk-ingest guard: a batch touching most of the layout falls
    # back to the full-gen read (collect stays bounded) — same files
    # as the unpruned path, same admissions either way
    bulk_sigs = gate2._banded(corpus)
    assert set(gate2._base_df(bulk_sigs).inputFiles()) == set(full_files)


@pytest.mark.slow
def test_streaming_near_dedup_mod_rescales_across_compactions(
    spark, tmp_path
):
    """The auto prefix_mod must GROW with the corpus across successive
    compactions (mod ∝ corpus is what keeps per-batch bytes flat), and
    a lookup spanning the re-laid-out generation stays correct."""
    from timescale_cdc_spark.operators.curation import StreamingNearDedup

    gate = StreamingNearDedup(spark, str(tmp_path / "idx"))
    gate.docs_per_leaf = 2  # force the modulus to move at tiny scale

    def batch(lo, n):
        return spark.range(lo, lo + n).select(
            F.col("id").alias("doc_id"),
            F.concat_ws(
                " ",
                *[
                    F.concat(
                        F.lit(f"u{w}_"),
                        F.pmod(F.xxhash64("id", F.lit(w)), F.lit(3000)),
                    )
                    for w in range(25)
                ],
            ).alias("text"),
        )

    for b in range(4):  # 4 × 10-doc batches: median batch est = 10
        gate.process_batch(batch(b * 10, 10), b)
    assert gate.compact() == 4
    mod1 = gate._gen_meta(gate._gen_dirs()[0])["prefix_mod"]
    assert mod1 > 16  # corpus 40 / leaf 2 supports fine layout

    for b in range(4):  # grow the corpus: 4 × 50-doc batches
        gate.process_batch(batch(40 + b * 50, 50), 4 + b)
    assert gate.compact() == 5  # 4 batch dirs + 1 old gen
    assert gate._gen_dirs() == ["gen=-2"]  # old gen superseded
    mod2 = gate._gen_meta("gen=-2")["prefix_mod"]
    assert mod2 > mod1, (mod1, mod2)

    # a near-copy of a doc admitted BEFORE the re-layout is still
    # caught through the rescaled base
    orig = batch(0, 1)
    probe = orig.select(
        (F.col("doc_id") + 7777).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" tail")).alias("text"),
    )
    assert gate.process_batch(probe, 8).count() == 0
    assert gate.index().select("_id").distinct().count() == 240

    # bulk-workload adaptation: when observed batches are LARGER than
    # the corpus can support useful pruning for, the next compaction
    # drops back to the coarse layout (bounded file count — full
    # scans stay cheap) instead of a fine layout no lookup can prune
    gate.process_batch(batch(10000, 500), 9)
    assert gate.compact() == 3  # probe dir + bulk dir + old gen
    assert gate._gen_meta("gen=-3")["prefix_mod"] == 16


def test_streaming_gates_star_cap_identical_spam_batch(
    spark, sf_dir, tmp_path
):
    """Round-7 skew guard: a batch of identical spam must collapse to
    exactly its minimum id WITHOUT the uncapped O(f²) within-batch
    self-join — the star cap pairs every member with the bucket
    minimum, and identical payloads all verify against it. 600 copies
    > the 256 cap, so this exercises the hot path in both gates."""
    from timescale_cdc_spark.operators.ann_index import StreamingVectorDedup
    from timescale_cdc_spark.operators.curation import StreamingNearDedup

    spam = ("identical spam template body repeated across the whole "
            "batch with enough words to shingle properly and land in "
            "every band bucket together forever and ever")
    docs = spark.range(600).select(
        F.col("id").alias("doc_id"), F.lit(spam).alias("text")
    )
    gate = StreamingNearDedup(spark, str(tmp_path / "idx"))
    assert [r.doc_id for r in gate.process_batch(docs, 0).collect()] == [0]

    em = load_table(spark, sf_dir, "embeddings")
    one = em.filter("vec_id = 1").select("embedding")
    vecs = spark.range(600).crossJoin(one).select(
        F.col("id").alias("vec_id"), "embedding"
    )
    vgate = StreamingVectorDedup(spark, str(tmp_path / "vidx"))
    assert [r.vec_id for r in vgate.process_batch(vecs, 0).collect()] == [0]


def test_gate_layout_estimator_sees_incoming_not_admitted(spark, tmp_path):
    """The fine-vs-coarse layout decision must be driven by what
    lookups PROBE (incoming batch size), not what survived dedup — a
    high-duplicate stream admits few docs per large batch, and an
    admitted-rows estimate would pick a fine layout whose bulk
    lookups all degrade to full scans."""
    from timescale_cdc_spark.operators.curation import StreamingNearDedup

    gate = StreamingNearDedup(spark, str(tmp_path / "idx"))

    def mk(lo, n):
        return spark.range(lo, lo + n).select(
            F.col("id").alias("doc_id"),
            F.concat_ws(
                " ",
                *[
                    F.concat(
                        F.lit(f"q{w}_"),
                        F.pmod(F.xxhash64("id", F.lit(w)), F.lit(2000)),
                    )
                    for w in range(20)
                ],
            ).alias("text"),
        )

    seed = mk(0, 30)
    assert gate.process_batch(seed, 0).count() == 30
    # re-crawl: the same 30 docs under new ids + 2 genuinely new
    recrawl = seed.withColumn("doc_id", F.col("doc_id") + 5000).unionByName(
        mk(100, 2)
    )
    assert gate.process_batch(recrawl, 1).count() == 2  # 30 rejected
    assert gate._batch_sizes() == [30.0, 32.0]  # incoming, not admitted


@pytest.mark.slow
def test_streaming_near_dedup_duplicate_gen_crash_window(spark, tmp_path):
    """Crash window the compact() docstring claims is harmless: the
    new generation landed but the old dirs were not removed. The
    lookup unions both (duplicate signature rows are harmless —
    existential hit detection, same-id ignored) and the next
    compact() merges everything back to one generation."""
    import shutil

    from timescale_cdc_spark.operators.curation import StreamingNearDedup

    doc = ("a long enough sentence about tidal pools sheltering "
           "anemones and hermit crabs between the barnacled rocks "
           "while gulls argue over the receding waterline")
    gate = StreamingNearDedup(spark, str(tmp_path / "idx"), prefix_mod=16)
    gate.process_batch(
        spark.createDataFrame([(1, doc)], "doc_id long, text string"), 0
    )
    gate.process_batch(
        spark.createDataFrame(
            [(2, "unrelated words about branch prediction pipelines "
              "and speculative execution hazards in modern cores")],
            "doc_id long, text string"), 1
    )
    assert gate.compact() == 2
    # simulate the torn compaction: an undead older generation with
    # the same content
    shutil.copytree(
        f"{gate._base_path}/gen=-1", f"{gate._base_path}/gen=-9"
    )
    assert gate.index().select("_id").distinct().count() == 2
    probe = spark.createDataFrame(
        [(7, doc.replace("gulls", "terns"))], "doc_id long, text string"
    )
    assert gate.process_batch(probe, 2).count() == 0  # still rejected
    # rerun heals: both gens + the (empty) probe dir merge to one
    assert gate.compact() == 3
    assert gate._gen_dirs() == ["gen=-10"]
    assert gate.index().select("_id").distinct().count() == 2
    assert gate.index().count() == 2 * gate.bands  # rows deduped too


@pytest.mark.slow
def test_streaming_near_dedup_metaless_gen_falls_back_unpruned(
    spark, tmp_path
):
    """Crash window: a generation written without its _meta.json (died
    between the parquet write and the meta write) must degrade to an
    UNPRUNED read of that gen — correctness first — not lose rows."""
    import os

    from timescale_cdc_spark.operators.curation import StreamingNearDedup

    doc = ("a reasonably long sentence about glacial valleys carving "
           "through ancient stone while eagles circle thermals above "
           "the silent snowfields waiting for spring melt")
    gate = StreamingNearDedup(spark, str(tmp_path / "idx"), prefix_mod=16)
    gate.process_batch(
        spark.createDataFrame([(1, doc)], "doc_id long, text string"), 0
    )
    gate.process_batch(
        spark.createDataFrame(
            [(2, "totally different words about compiler design and "
              "register allocation across basic blocks in loops")],
            "doc_id long, text string"), 1
    )
    assert gate.compact() == 2
    os.remove(os.path.join(gate._base_path, "gen=-1", "_meta.json"))
    # the near-copy of doc 1 must still be caught through the
    # meta-less (hence unpruned) generation
    probe = spark.createDataFrame(
        [(9, doc.replace("eagles", "hawks"))], "doc_id long, text string"
    )
    assert gate.process_batch(probe, 2).count() == 0
    assert {r._id for r in gate.index().select("_id").collect()} == {1, 2}


@pytest.mark.slow
def test_streaming_vector_dedup_bucket_pruned_lookup(spark, sf_dir, tmp_path):
    """Vector-gate counterpart: pruned base read opens ≤ chunks ×
    batch leaf dirs and exact-copy rejection still works through it."""
    import os

    from timescale_cdc_spark.operators.ann_index import StreamingVectorDedup

    em = load_table(spark, sf_dir, "embeddings")
    gate = StreamingVectorDedup(
        spark, str(tmp_path / "vidx"), prefix_mod=16
    )
    gate.process_batch(em.filter("vec_id < 100"), 0).count()
    gate.process_batch(
        em.filter("vec_id >= 100 AND vec_id < 200"), 1
    ).count()
    assert gate.compact() == 2
    assert gate._gen_meta("gen=-1")["prefix_mod"] == 16

    probe = em.filter("vec_id = 3").withColumn(
        "vec_id", F.lit(9000).cast("long")
    )
    sigs = gate._banded(probe)
    pruned_files = gate._base_df(sigs).inputFiles()
    full_files = gate._base_df().inputFiles()
    assert 0 < len(pruned_files) <= gate.chunks
    assert len(pruned_files) < len(full_files) / 4
    pruned_bytes = sum(
        os.path.getsize(f.removeprefix("file:")) for f in pruned_files
    )
    full_bytes = sum(
        os.path.getsize(f.removeprefix("file:")) for f in full_files
    )
    assert pruned_bytes < full_bytes / 4
    assert gate.process_batch(probe, 2).count() == 0


@pytest.mark.slow
def test_streaming_vector_dedup_gate(spark, sf_dir, tmp_path):
    """Embedding-space ingest gate: exact copies of previously
    admitted vectors are rejected across batches (index lookup + exact
    cosine verify), within-batch copies resolve keep-lowest-id,
    replay is idempotent, and compaction preserves behavior."""
    from timescale_cdc_spark.operators.ann_index import StreamingVectorDedup

    em = load_table(spark, sf_dir, "embeddings")
    gate = StreamingVectorDedup(spark, str(tmp_path / "vec_idx"))

    b1 = em.filter(F.col("vec_id") < 50)
    s1 = {r.vec_id for r in gate.process_batch(b1, 0).collect()}
    assert s1 == set(range(50))  # random unit vectors: no organic dups

    # batch 2: 20 exact copies under new ids + 10 new vectors,
    # plus a within-batch duplicate pair (both new ids, same vector)
    copies = em.filter(F.col("vec_id") < 20).withColumn(
        "vec_id", F.col("vec_id") + 1000
    )
    fresh = em.filter((F.col("vec_id") >= 50) & (F.col("vec_id") < 60))
    twin = em.filter(F.col("vec_id") == 55).withColumn(
        "vec_id", F.lit(2000).cast("long")
    )
    b2 = copies.unionByName(fresh).unionByName(twin)
    s2 = {r.vec_id for r in gate.process_batch(b2, 1).collect()}
    assert s2 == set(range(50, 60))  # copies + twin rejected

    # replay batch 2: identical outcome
    s2r = {r.vec_id for r in gate.process_batch(b2, 1).collect()}
    assert s2r == s2

    # compaction keeps lookups working
    assert gate.compact() == 2
    b3 = em.filter(F.col("vec_id") == 7).withColumn(
        "vec_id", F.lit(3000).cast("long")
    ).unionByName(em.filter(F.col("vec_id") == 80))
    s3 = {r.vec_id for r in gate.process_batch(b3, 2).collect()}
    assert s3 == {80}


def test_streaming_vector_dedup_attach_end_to_end(spark, sf_dir, tmp_path):
    """attach() runs the vector gate inside a real streaming query."""
    from timescale_cdc_spark.operators.ann_index import StreamingVectorDedup

    em = load_table(spark, sf_dir, "embeddings")
    src = str(tmp_path / "vsrc")
    em.filter(F.col("vec_id") < 10).unionByName(
        em.filter(F.col("vec_id") < 5).withColumn(
            "vec_id", F.col("vec_id") + 500
        )
    ).write.parquet(src)

    gate = StreamingVectorDedup(spark, str(tmp_path / "vidx"))
    stream = spark.readStream.schema(em.schema).parquet(src)
    q = gate.attach(stream, str(tmp_path / "vout"), str(tmp_path / "vckpt"))
    q.processAllAvailable()
    q.stop()
    out = spark.read.parquet(str(tmp_path / "vout"))
    # the 5 same-vector re-posts under new ids are rejected
    assert {r.vec_id for r in out.collect()} == set(range(10))


def test_c3_vector_gate_rows_pinned_count(spark):
    """Pin the vector-gate leg of c3_ann_lsh_ivf at the driver's SF
    (0 rows = the in-plan no-admitted-dups invariant fired; 510 would
    mean planted copies leaked through). The gate rides inside the
    c3_ann_lsh_ivf registry entry since round 7 (registry-window
    consolidation) — exercise it through the same helper the
    registered query calls."""
    from timescale_cdc_spark.queries.llm_queries import _vector_gate_rows

    out = _vector_gate_rows(spark, _sibling_sf_dir("sf0.01"))
    assert out.count() == 500


@pytest.mark.slow
def test_semantic_dedup_planted_groups_and_reference(spark):
    """SemDeDup (operators/semdedup.py): plant 10 semantic groups of
    4 near-identical vectors (small perturbations, cos ≈ 0.999)
    inside a random 64-dim corpus. Every group must collapse to
    exactly ONE survivor; random vectors (mutual cos ~0) all survive;
    and the full kept-set equals a brute-force Python replay of the
    paper's upper-triangular rule on the SAME cluster assignment and
    ordering."""
    import numpy as np

    from timescale_cdc_spark.operators.semdedup import (
        semantic_dedup,
        semantic_dedup_marks,
    )

    rng = np.random.default_rng(7)
    rows = []
    gid = {}
    vid = 0
    for g in range(10):
        base = rng.normal(size=64)
        base /= np.linalg.norm(base)
        for _ in range(4):
            v = base + rng.normal(scale=0.005, size=64)
            v /= np.linalg.norm(v)
            rows.append((vid, [float(x) for x in v]))
            gid[vid] = g
            vid += 1
    for _ in range(60):
        v = rng.normal(size=64)
        v /= np.linalg.norm(v)
        rows.append((vid, [float(x) for x in v]))
        vid += 1
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")

    marks = semantic_dedup_marks(
        df, eps=0.95, n_clusters=8, keep="far", seed=3
    ).collect()
    kept = {r["vec_id"] for r in marks if r["kept"]}
    # each planted group -> exactly one survivor; all noise survives
    for g in range(10):
        assert len([v for v in kept if gid.get(v) == g]) == 1, g
    assert all(v in kept for v in range(40, 100))

    # exact reference replay on the same (cell, cent_cos, id) ordering
    by_cell = {}
    info = {r["vec_id"]: r for r in marks}
    vecs = {i: np.array(v) for i, v in rows}
    for r in marks:
        by_cell.setdefault(r["_cell"], []).append(r["vec_id"])
    want_kept = set()
    for cell, ids in by_cell.items():
        ids.sort(key=lambda i: (info[i]["cent_cos"], i))
        for pos, i in enumerate(ids):
            dup = any(
                float(vecs[i] @ vecs[j])
                / (np.linalg.norm(vecs[i]) * np.linalg.norm(vecs[j]))
                >= 0.95
                for j in ids[:pos]
            )
            if not dup:
                want_kept.add(i)
    assert kept == want_kept

    # eps above every pairwise cosine -> nothing dropped
    all_kept = semantic_dedup_marks(
        df, eps=1.0000001, n_clusters=8, seed=3
    )
    assert all_kept.where("NOT kept").count() == 0

    # survivors frame preserves original columns + stratification cols
    surv = semantic_dedup(df, eps=0.95, n_clusters=8, keep="far", seed=3)
    assert set(surv.columns) == {"vec_id", "embedding", "_cell", "cent_cos"}
    assert surv.count() == len(kept)

    # keep='near' keeps the MOST-central member of each group instead
    near = semantic_dedup_marks(
        df, eps=0.95, n_clusters=8, keep="near", seed=3
    ).collect()
    ninfo = {r["vec_id"]: r for r in near}
    for g in range(10):
        members = [v for v in range(40) if gid[v] == g]
        kept_g = [v for v in members if ninfo[v]["kept"]]
        far_g = [
            v
            for v in members
            if info[v]["kept"]
        ]
        if len(kept_g) == 1 and len(far_g) == 1:
            # same cluster -> near keeps max cent_cos, far keeps min
            cells = {ninfo[v]["_cell"] for v in members}
            if len(cells) == 1:
                assert ninfo[kept_g[0]]["cent_cos"] == max(
                    ninfo[v]["cent_cos"] for v in members
                )
                assert info[far_g[0]]["cent_cos"] == min(
                    info[v]["cent_cos"] for v in members
                )


def test_semantic_dedup_plan_no_cartesian(spark):
    """The within-cluster self-join must plan as an equi hash join on
    _cell — never CartesianProduct/BroadcastNestedLoopJoin — and keep
    Python out of the plan entirely."""
    import numpy as np

    from timescale_cdc_spark.operators.semdedup import semantic_dedup_marks

    rng = np.random.default_rng(1)
    rows = [
        (i, [float(x) for x in rng.normal(size=16)]) for i in range(50)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    plan = (
        semantic_dedup_marks(df, eps=0.9, n_clusters=4, seed=1)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "BatchEvalPython" not in plan


@pytest.mark.slow
def test_curate_with_semantic_stage(spark, sf_dir):
    """curate(embeddings=...) appends the SemDeDup stage after the
    lexical stages: planted semantic twins (identical embeddings,
    lexically distinct texts that survive MinHash) drop exactly one
    member with drop_reason='semantic_dup'; docs without an embedding
    row pass through unjudged; the default path (no embeddings) is
    unchanged."""
    from timescale_cdc_spark.operators.curation import curate

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    em = load_table(spark, sf_dir, "embeddings")
    # two lexically-unrelated docs forced into one semantic group by
    # giving doc 1 the SAME embedding as doc 0 (the fixtures'
    # embeddings are otherwise random unit vectors)
    e0 = em.filter(F.col("vec_id") == 0).select("embedding").first()[0]
    twins = spark.createDataFrame(
        [(0, e0), (1, e0)], "vec_id long, embedding array<float>"
    )
    emb = em.filter(F.col("vec_id") > 1).select(
        "vec_id", "embedding"
    ).unionByName(twins)

    out = curate(docs, embeddings=emb, semantic_eps=0.99).persist()
    assert out.count() == docs.count()
    r0, r1 = [
        {r["doc_id"]: r for r in out.filter(F.col("doc_id") < 2).collect()}[i]
        for i in (0, 1)
    ]
    # exactly one twin survives; the dropped one is tagged semantic
    assert {r0["kept"], r1["kept"]} == {True, False}
    dropped = r0 if not r0["kept"] else r1
    assert dropped["drop_reason"] == "semantic_dup"

    # baseline (no embeddings): both twins' docs keep their lexical
    # verdicts and nothing is tagged semantic_dup
    base = curate(docs)
    assert base.filter(F.col("drop_reason") == "semantic_dup").count() == 0
    base_kept = {
        r["doc_id"]: r["kept"]
        for r in base.filter(F.col("doc_id") < 2).collect()
    }
    # the semantic run only ever REMOVES docs relative to baseline
    sem_kept = {r["doc_id"]: r["kept"] for r in (r0, r1)}
    for d, k in sem_kept.items():
        assert (not k) or base_kept[d]
    out.unpersist()


def test_lttb_asap_registered_row_counts(spark):
    """Pin the downsample entry's count at the driver's SF. Since
    round 14 the entry emits the LTTB selection only (hash-checked
    against the recursive-CTE DuckDB oracle); ASAP runs in-plan as a
    gated family — 0 rows here means an ASAP gate fired (the count
    doubles as the ASAP regression signal now that asap rows are no
    longer emitted)."""
    from timescale_cdc_spark.queries.library import lib_lttb_asap_downsample

    out = lib_lttb_asap_downsample(spark, _sibling_sf_dir("sf0.01"))
    per = {
        r["method"]: r["n"]
        for r in out.groupBy("method").agg(F.count("*").alias("n")).collect()
    }
    # lttb: 5 series x n_out=100; asap gates passed (else 0 rows)
    assert per == {"lttb": 500}, per


# ---------------------------------------------------------------------------
# decontamination (operators/decontam.py)
# ---------------------------------------------------------------------------


def test_decontaminate_planted_overlap(spark):
    """Planted eval-overlapping docs flag; clean docs don't; counts and
    ratios are exact on a hand-computable corpus."""
    from timescale_cdc_spark.operators.decontam import decontaminate

    eval_df = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog")],
        "doc_id long, text string",
    )
    train = spark.createDataFrame(
        [
            # contains "quick brown fox" (one eval 3-gram), 4 grams total
            (10, "a very quick brown fox appears"),
            # no eval 3-gram
            (11, "completely unrelated training text here"),
            # full eval sentence embedded -> many hits
            (12, "prefix the quick brown fox jumps over the lazy dog"),
        ],
        "doc_id long, text string",
    )
    out = decontaminate(train, eval_df, "text", "doc_id", n=3).collect()
    rows = {r["doc_id"]: r for r in out}
    assert rows[10]["contaminated"] and rows[10]["n_hits"] == 1
    assert rows[10]["n_grams"] == 4
    assert not rows[11]["contaminated"] and rows[11]["n_hits"] == 0
    # doc 12: grams = 8 (10 words -> 8 trigrams); eval grams = 7, the
    # embedded sentence contributes all 7 ("prefix the quick" is new)
    assert rows[12]["n_hits"] == 7 and rows[12]["n_grams"] == 8
    assert abs(rows[12]["contamination_ratio"] - 7 / 8) < 1e-12


def test_decontaminate_hashed_matches_exact(spark):
    """The production xxhash64 path and the portable string path agree
    exactly on a real corpus slice (collisions are 2^-64 events)."""
    from timescale_cdc_spark.operators.decontam import decontaminate

    docs = load_table(spark, SF_DIR, "documents").select("doc_id", "text")
    eval_df = docs.filter(F.col("doc_id") % 37 == 0)
    train = docs.filter(F.col("doc_id") % 37 != 0)
    a = decontaminate(train, eval_df, "text", "doc_id", n=5, hashed=True)
    b = decontaminate(train, eval_df, "text", "doc_id", n=5, hashed=False)
    cols = ["doc_id", "n_grams", "n_hits", "contaminated"]
    assert a.select(cols).exceptAll(b.select(cols)).count() == 0
    assert b.select(cols).exceptAll(a.select(cols)).count() == 0


def test_decontaminate_short_doc_edge(spark):
    """Docs shorter than n words still produce their single all-words
    gram and can be flagged by an identical short eval doc."""
    from timescale_cdc_spark.operators.decontam import decontaminate

    eval_df = spark.createDataFrame([(1, "tiny doc")], "doc_id long, text string")
    train = spark.createDataFrame(
        [(10, "tiny doc"), (11, "other words")], "doc_id long, text string"
    )
    rows = {
        r["doc_id"]: r
        for r in decontaminate(train, eval_df, "text", "doc_id", n=13).collect()
    }
    assert rows[10]["contaminated"] and rows[10]["n_grams"] == 1
    assert not rows[11]["contaminated"]


def test_decontaminate_spans_hand_computed(spark):
    """Span removal (Dolma/Llama-3 recipe): only the union of hit
    [pos, pos+n) windows is cut, the rest of the doc survives
    verbatim; whole-doc contamination yields an empty clean_text."""
    from timescale_cdc_spark.operators.decontam import decontaminate_spans

    eval_df = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog")],
        "doc_id long, text string",
    )
    train = spark.createDataFrame(
        [
            # one hit 3-gram at pos 2 → words 2,3,4 removed
            (10, "a very quick brown fox appears happy today"),
            # clean
            (11, "completely unrelated training text here"),
            # eval sentence embedded after 1 word: hit positions 1..7
            # cover words 1..9 → only 'prefix' survives
            (12, "prefix the quick brown fox jumps over the lazy dog"),
            # shorter than n with an exact eval-substring gram: its
            # single all-words gram hits → fully removed
            (13, "quick brown fox"),
        ],
        "doc_id long, text string",
    )
    rows = {
        r["doc_id"]: r
        for r in decontaminate_spans(
            train, eval_df, "text", "doc_id", n=3
        ).collect()
    }
    assert rows[10]["clean_text"] == "a very appears happy today"
    assert rows[10]["n_hit_positions"] == 1
    assert rows[10]["n_removed_words"] == 3
    assert not rows[11]["contaminated"]
    assert rows[11]["clean_text"] == rows[11]["text"]
    assert rows[11]["n_removed_words"] == 0
    assert rows[12]["clean_text"] == "prefix"
    assert rows[12]["n_hit_positions"] == 7
    assert rows[12]["n_removed_words"] == 9
    assert rows[13]["clean_text"] == "" and rows[13]["contaminated"]
    assert abs(rows[13]["removal_ratio"] - 1.0) < 1e-12


def test_decontaminate_spans_hashed_matches_exact(spark):
    """xxhash64 and portable-string span removal agree on a real
    corpus slice — including the surviving text itself."""
    from timescale_cdc_spark.operators.decontam import decontaminate_spans

    docs = load_table(spark, SF_DIR, "documents").select("doc_id", "text")
    eval_df = docs.filter(F.col("doc_id") % 37 == 0)
    train = docs.filter(F.col("doc_id") % 37 != 0).limit(200)
    cols = ["doc_id", "clean_text", "n_hit_positions", "n_removed_words"]
    a = decontaminate_spans(train, eval_df, "text", "doc_id", n=5,
                            hashed=True).select(cols)
    b = decontaminate_spans(train, eval_df, "text", "doc_id", n=5,
                            hashed=False).select(cols)
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0


@pytest.mark.slow
def test_curate_with_decontamination_stage(spark):
    """curate(eval_docs=...) drops eval-overlapping docs as
    'contaminated' BEFORE the dedup stages, and the stage is inert
    when eval_docs is None."""
    from timescale_cdc_spark.operators.curation import curate

    good = "this sentence has enough proper words to pass the filter"
    corpus = spark.createDataFrame(
        [
            # clean: shares no 5-gram with the eval doc
            (1, "an unrelated but perfectly fine training document "
                "with many plain words"),
            # contaminated: embeds the eval doc's text
            (2, "prefix words here " + good),
        ],
        "doc_id long, text string",
    )
    eval_df = spark.createDataFrame(
        [(100, good)], "doc_id long, text string"
    )
    out = curate(
        corpus, eval_docs=eval_df, decontam_n=5, min_quality=0.0
    ).persist()
    rows = {r["doc_id"]: r for r in out.collect()}
    assert rows[2]["drop_reason"] == "contaminated" and not rows[2]["kept"]
    assert rows[1]["kept"] and rows[1]["drop_reason"] is None
    # without eval_docs nothing is contaminated
    base = curate(corpus, min_quality=0.0)
    assert (
        base.filter(F.col("drop_reason") == "contaminated").count() == 0
    )
    assert base.filter(F.col("kept")).count() == 2
    out.unpersist()


def test_repetition_stats_hand_computed(spark):
    """Gopher repetition signals on hand-computable docs: a looping
    doc scores high on every metric, a natural doc scores low, and
    the line metrics see duplicated lines."""
    from timescale_cdc_spark.operators.text import repetition_stats

    docs = spark.createDataFrame(
        [
            # pure loop: "spam ham " x 4 -> bigram "spam ham" dominates
            (1, "spam ham spam ham spam ham spam ham"),
            # all-distinct words -> every gram unique
            (2, "one two three four five six seven eight"),
            # 3 lines, two identical
            (3, "dup line\nunique line here\ndup line"),
        ],
        "doc_id long, text string",
    )
    rows = {
        r["doc_id"]: r
        for r in repetition_stats(docs, "text").collect()
    }
    # doc 1: 7 bigrams, "spam ham" occurs 4x -> 4/7; trigrams: 6
    # occurrences, 2 distinct -> dup = 1 - 2/6
    assert abs(rows[1]["top_bigram_frac"] - 4 / 7) < 1e-9
    assert abs(rows[1]["dup_trigram_frac"] - (1 - 2 / 6)) < 1e-9
    assert rows[2]["dup_trigram_frac"] == 0.0
    assert abs(rows[2]["top_bigram_frac"] - 1 / 7) < 1e-9
    # doc 3 line metrics: 3 lines, 2 distinct; 2 of 3 lines are dups
    assert rows[3]["n_lines"] == 3
    assert abs(rows[3]["dup_line_frac"] - (1 - 2 / 3)) < 1e-9
    dup_chars = 2 * len("dup line")
    total = 2 * len("dup line") + len("unique line here")
    assert abs(rows[3]["dup_line_char_frac"] - dup_chars / total) < 1e-9
    # single-line docs: line metrics degenerate to 1 / 0 / 0
    assert rows[1]["n_lines"] == 1 and rows[1]["dup_line_frac"] == 0.0


def test_pii_redaction_realistic_and_cross_engine(spark):
    """PII detect+redact (Dolma recipe) on realistic strings: multiple
    occurrences, adjacent categories, dotted phones, and a doc with
    none. Every pattern stays in the RE2 ∩ Java subset, so the SAME
    string must come back from DuckDB's regexp_replace — the property
    the oracle hash-match of c4_text_analysis rests on."""
    import duckdb

    from timescale_cdc_spark.operators.text import (
        PII_ORDER,
        PII_PATTERNS,
        PII_TOKENS,
        pii_stats,
        redact_pii,
    )

    docs = spark.createDataFrame(
        [
            (1, "reach me at jo.doe+spam@sub.example.co.uk or "
                "alt_jo%x@mail.io thanks"),
            (2, "call 415-555-2671 or 415.555.2671 from 10.0.0.1"),
            (3, "server 192.168.100.255 and 8.8.8.8 port 80"),
            (4, "adjacent a@b.io 123-456-7890 1.2.3.4 end"),
            (5, "no pii here just words and numbers 12345"),
        ],
        "doc_id long, text string",
    )
    out = redact_pii(pii_stats(docs, "text"), "text")
    rows = {r["doc_id"]: r for r in out.collect()}

    assert (rows[1]["n_pii_email"], rows[1]["n_pii_phone"],
            rows[1]["n_pii_ip"]) == (2, 0, 0)
    assert (rows[2]["n_pii_email"], rows[2]["n_pii_phone"],
            rows[2]["n_pii_ip"]) == (0, 2, 1)
    assert rows[3]["n_pii_ip"] == 2
    assert (rows[4]["n_pii_email"], rows[4]["n_pii_phone"],
            rows[4]["n_pii_ip"]) == (1, 1, 1)
    assert (rows[5]["n_pii_email"], rows[5]["n_pii_phone"],
            rows[5]["n_pii_ip"]) == (0, 0, 0)
    assert rows[5]["pii_redacted"] == rows[5]["text"]
    assert rows[4]["pii_redacted"] == (
        "adjacent |||EMAIL_ADDRESS||| |||PHONE_NUMBER||| "
        "|||IP_ADDRESS||| end"
    )
    for r in rows.values():
        for cat in PII_ORDER:
            # a count>0 implies the category token is present and the
            # raw match is gone
            if r[f"n_pii_{cat}"]:
                assert PII_TOKENS[cat] in r["pii_redacted"]

    # cross-engine: DuckDB/RE2 must produce byte-identical redactions
    con = duckdb.connect()
    for r in rows.values():
        got = con.execute(
            "SELECT regexp_replace(regexp_replace(regexp_replace("
            "?, ?, ?, 'g'), ?, ?, 'g'), ?, ?, 'g')",
            [
                r["text"],
                PII_PATTERNS["email"], PII_TOKENS["email"],
                PII_PATTERNS["phone"], PII_TOKENS["phone"],
                PII_PATTERNS["ip"], PII_TOKENS["ip"],
            ],
        ).fetchone()[0]
        assert got == r["pii_redacted"], (r["doc_id"], got)


def test_perplexity_buckets_hand_computed(spark):
    """Unigram LM + perplexity on a hand-computable corpus: reference
    'a a b' -> counts {a:2, b:1}, N=3, V=2, denom=5; add-one logps
    p(a)=3/5, p(b)=2/5, OOV=1/5. Scored docs get exact cross-entropy
    means of those (quantized) logps; bucket order follows ppl."""
    import math

    from timescale_cdc_spark.operators.text import (
        perplexity_buckets,
        unigram_logprobs,
    )

    ref = spark.createDataFrame([(0, "a a b")], "doc_id long, text string")
    lm, oov = unigram_logprobs(ref, "text")
    lm_rows = {r["token"]: r["logp"] for r in lm.collect()}

    def q6(x):
        return math.floor(x * 1e6) / 1e6

    assert lm_rows == {"a": q6(math.log(3 / 5)), "b": q6(math.log(2 / 5))}
    assert oov == q6(math.log(1 / 5))

    docs = spark.createDataFrame(
        [(1, "a a a a"), (2, "a b a b"), (3, "z z z z")],
        "doc_id long, text string",
    )
    out = {
        r["doc_id"]: r
        for r in perplexity_buckets(docs, lm, oov, "text", "doc_id").collect()
    }
    # per-doc CE = -(mean of quantized logps); ppl = exp(CE), trunc6
    ce1 = q6(-q6(math.log(3 / 5)))
    ce2 = q6(-(2 * q6(math.log(3 / 5)) + 2 * q6(math.log(2 / 5))) / 4)
    ce3 = q6(-q6(math.log(1 / 5)))
    assert out[1]["cross_entropy"] == ce1
    assert out[2]["cross_entropy"] == ce2
    assert out[3]["cross_entropy"] == ce3
    for i, ce in ((1, ce1), (2, ce2), (3, ce3)):
        assert out[i]["ppl"] == q6(math.exp(ce))
        assert out[i]["n_tokens"] == 4
    # most-reference-like doc is head, all-OOV doc is tail
    assert out[1]["ppl_bucket"] == "head"
    assert out[2]["ppl_bucket"] == "middle"
    assert out[3]["ppl_bucket"] == "tail"


@pytest.mark.slow
def test_curate_redact_pii_before_dedup(spark):
    """curate(redact=True) masks PII before hashing (the Dolma
    ordering), so two docs differing ONLY in the PII they leak
    become exact duplicates; without redaction both survive."""
    from timescale_cdc_spark.operators.curation import curate

    body = ("a perfectly reasonable document body with enough "
            "distinct words to pass the quality and token filters "
            "contact me at ")
    docs = spark.createDataFrame(
        [(1, body + "alice@example.com"), (2, body + "bob@other.org")],
        "doc_id long, text string",
    )
    plain = {
        r["doc_id"]: r
        for r in curate(docs, min_quality=0.0,
                        near_dup_threshold=0.98).collect()
    }
    assert plain[1]["kept"] and plain[2]["kept"]

    red = {
        r["doc_id"]: r
        for r in curate(docs, min_quality=0.0, near_dup_threshold=0.98,
                        redact=True).collect()
    }
    assert red[1]["kept"] and not red[2]["kept"]
    assert red[2]["drop_reason"] == "exact_dup"


def test_quality_classifier_and_pareto_keep(spark):
    """The learned quality filter separates lexically-disjoint junk
    from clean text, and the deterministic Pareto retention rule
    (GPT-3 appendix A) keeps high-scored docs at a much higher rate
    while letting SOME low-scored docs through (tail diversity, not
    a hard cutoff) — reproducibly, since the draw is content-hashed."""
    from timescale_cdc_spark.operators.quality_model import (
        fit_quality_classifier,
        pareto_keep,
        score_quality,
    )

    clean = [(i, "the quick brown fox jumps over the lazy dog "
                 f"variant {i} with plain natural words") for i in range(40)]
    junk = [(1000 + i, f"zxq{i} vvkk{i} qqzz jjxx wwvv kkqq zzvv "
                       f"xxjj vvww qqkk") for i in range(40)]
    labeled = spark.createDataFrame(
        [(i, t, 1.0) for i, t in clean] + [(i, t, 0.0) for i, t in junk],
        "doc_id long, text string, label double",
    )
    train = labeled.filter("doc_id % 2 = 0")
    test = labeled.filter("doc_id % 2 = 1")
    model = fit_quality_classifier(train, num_features=1 << 14)
    scored = score_quality(model, test)
    rows = scored.collect()
    acc = sum(r["quality_pred"] == r["label"] for r in rows) / len(rows)
    assert acc == 1.0, acc

    # pareto_keep over a synthetic score spread
    probs = spark.range(2000).select(
        F.col("id").alias("doc_id"),
        F.when(F.col("id") % 2 == 0, 0.95).otherwise(0.05)
         .alias("quality_prob"),
    )
    kept = pareto_keep(probs).groupBy(
        (F.col("doc_id") % 2 == 0).alias("hi")
    ).agg(F.avg(F.col("keep").cast("double")).alias("rate")).collect()
    rates = {r["hi"]: r["rate"] for r in kept}
    assert rates[True] > 0.5 > rates[False]          # ordering
    assert rates[False] > 0.0                        # tail diversity
    # deterministic: same input -> same decisions
    again = {r["hi"]: r["rate"] for r in pareto_keep(probs).groupBy(
        (F.col("doc_id") % 2 == 0).alias("hi")
    ).agg(F.avg(F.col("keep").cast("double")).alias("rate")).collect()}
    assert again == rates


def test_sq8_topk_exact_on_separated_corpus(spark):
    """SQ8 scalar quantization: a planted near-identical vector must
    come back at rank 1 with the EXACT cosine (the refine step scores
    original vectors, so quantization error affects only candidate
    selection), a constant dimension must not divide-by-zero, and
    recall@3 vs brute force must be perfect on a well-separated
    corpus (int8 error ≪ the margin)."""
    import math
    import random

    from timescale_cdc_spark.operators.similarity import brute_force_topk
    from timescale_cdc_spark.operators.sq8 import sq8_topk

    rng = random.Random(7)
    # 40 well-separated random vectors + one near-copy of vec 0;
    # dimension 5 is constant 0.5 across the corpus (degenerate).
    base = [[rng.uniform(-1, 1) for _ in range(5)] + [0.5]
            for _ in range(40)]
    near = [x + 0.001 for x in base[0][:5]] + [0.5]
    rows = [(i, v) for i, v in enumerate(base)] + [(100, near)]
    corpus = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>"
    )
    q = corpus.filter("vec_id = 100")
    got = sq8_topk(corpus, q, k=3).collect()
    assert got[0]["c_id"] == 0 and got[0]["rank"] == 1
    # exact cosine from the refine step, not a dequantized estimate
    dot = sum(a * b for a, b in zip(near, base[0]))
    na = math.sqrt(sum(a * a for a in near))
    nb = math.sqrt(sum(b * b for b in base[0]))
    assert abs(got[0]["cos"] - round(dot / (na * nb), 4)) <= 1e-12
    exact = {(r["q_id"], r["c_id"])
             for r in brute_force_topk(corpus, q, k=3).collect()}
    approx = {(r["q_id"], r["c_id"]) for r in got}
    assert approx == exact


def test_curate_perplexity_stage(spark):
    """curate(ppl_ref=..., max_ppl=...) drops out-of-distribution docs
    as 'perplexity' after the rule filter and before decontam/dedup:
    an all-OOV doc exceeds the ceiling; in-distribution docs pass and
    flow through the rest of the pipeline untouched."""
    import math

    from timescale_cdc_spark.operators.curation import curate
    from timescale_cdc_spark.operators.text import (
        perplexity_scores,
        unigram_logprobs,
    )

    ref = spark.createDataFrame(
        [(0, "the plain words we expect to see in reference text "
             "appear here with usual frequency and order")],
        "doc_id long, text string",
    )
    docs = spark.createDataFrame(
        [
            (1, "the plain words we expect appear here with usual order"),
            (2, "zq vx qk jw zz xv kq wj zv xq"),  # all-OOV
        ],
        "doc_id long, text string",
    )
    # ceiling between the two observed scores, derived not guessed
    lm, oov = unigram_logprobs(ref, "text")
    scores = {
        r["doc_id"]: r["ppl"]
        for r in perplexity_scores(docs, lm, oov, "text", "doc_id").collect()
    }
    assert scores[2] > scores[1]
    ceiling = math.sqrt(scores[1] * scores[2])

    out = {
        r["doc_id"]: r
        for r in curate(
            docs, min_quality=0.0, min_tokens=3,
            ppl_ref=ref, max_ppl=ceiling,
        ).collect()
    }
    assert out[1]["kept"] and out[1]["drop_reason"] is None
    assert not out[2]["kept"] and out[2]["drop_reason"] == "perplexity"


def test_curate_language_stage(spark):
    """curate(allowed_langs=['en']) drops off-language docs as
    'language' (CCNet's first stage) while in-language docs continue
    through the pipeline."""
    from timescale_cdc_spark.operators.curation import curate

    docs = spark.createDataFrame(
        [
            (1, "the cat sat on the mat and the dog is in the house"),
            (2, "der Hund und die Katze sind nicht in der Küche heute"),
        ],
        "doc_id long, text string",
    )
    out = {
        r["doc_id"]: r
        for r in curate(
            docs, min_quality=0.0, min_tokens=3, allowed_langs=["en"]
        ).collect()
    }
    assert out[1]["kept"] and out[1]["drop_reason"] is None
    assert not out[2]["kept"] and out[2]["drop_reason"] == "language"


@pytest.mark.slow
def test_curate_all_stages_composed(spark):
    """Every curate() stage active at once, one planted drop each, in
    the documented stage order: PII redaction collapses a pii-twin
    pair into exact dups, junk drops as quality, German as language,
    OOV soup as perplexity, an eval-overlapping doc as contaminated,
    a byte-twin as exact_dup, a near-twin as near_dup, and an
    embedding-twin as semantic_dup — everything else survives."""
    from timescale_cdc_spark.operators.curation import curate

    base = ("the plain english words we expect appear here in the "
            "usual order with nothing strange about them at all")
    other = ("a different but equally plain english document with "
             "many common words and a calm ordinary tone overall")
    rows = [
        (1, base),
        (2, other),
        (3, "x x"),                                      # quality
        (4, "der Hund und die Katze sind nicht in der "
            "Küche heute Abend zusammen"),               # language
        # English-marked (passes language-ID) but OOV-heavy vs the
        # reference LM -> drops at the perplexity stage
        (5, "the zq of vx and qk to jw in zz the xv of kq and wj"),
        # carries the eval text contiguously AND en marker words so
        # it reaches the decontamination stage
        (6, "the quick note says held out secret eval sentence "
            "nobody may train on ever and more of the words"),
        (7, base),                                       # exact dup of 1
        (8, other + " qq ww"),                           # near dup of 2
        # 9/10: identical embeddings, disjoint words -> semantic
        (9, "first semantic twin phrased one way entirely on its own "
            "terms and quite verbose about it"),
        (10, "a second paraphrase worded differently yet pointing "
             "to the identical meaning through other vocabulary"),
        # 11/12: differ only in leaked PII -> exact dups after redact
        (11, base + " reach me at alice@example.com"),
        (12, base + " reach me at bob@other.org"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    eval_docs = spark.createDataFrame(
        [(100, "held out secret eval sentence nobody may train on "
               "ever")],
        "doc_id long, text string",
    )  # doc 6 embeds this text contiguously
    # the reference corpus covers every legitimate doc's vocabulary
    # (a reference LM only separates junk if the clean docs are
    # in-distribution); doc 5's zq/vx/qk tokens stay OOV
    ppl_ref = spark.createDataFrame(
        [(200 + i, t) for i, t in enumerate(
            [base, other] + [t for i_, t in rows if i_ in (6, 9, 10)]
        )],
        "doc_id long, text string",
    )
    # ceiling between every in-distribution doc and the OOV-heavy
    # doc, derived from observed scores rather than guessed
    from timescale_cdc_spark.operators.text import (
        perplexity_scores,
        unigram_logprobs,
    )

    lm, oov = unigram_logprobs(ppl_ref, "text")
    ppls = {
        r["doc_id"]: r["ppl"]
        for r in perplexity_scores(
            docs.filter("doc_id in (1, 2, 5, 6, 9, 10, 11, 12)"),
            lm, oov, "text", "doc_id",
        ).collect()
    }
    in_dist = max(v for k, v in ppls.items() if k != 5)
    assert ppls[5] > in_dist, ppls
    import math

    ceiling = math.sqrt(in_dist * ppls[5])
    emb = spark.createDataFrame(
        # doc 1's distinct vector gives KMeans a second point; alone
        # in its cell it is kept, so only the 9/10 twins collide
        [(1, [0.0, 1.0, 0.0]), (9, [1.0, 0.0, 0.0]),
         (10, [1.0, 0.0, 0.0])],
        "doc_id long, embedding array<double>",
    )
    out = {
        r["doc_id"]: r
        for r in curate(
            docs,
            min_quality=0.0,
            min_tokens=3,
            near_dup_threshold=0.7,
            redact=True,
            allowed_langs=["en"],
            ppl_ref=ppl_ref,
            max_ppl=ceiling,
            eval_docs=eval_docs,
            decontam_n=5,
            embeddings=emb,
            emb_id_col="doc_id",
            semantic_eps=0.95,
            semantic_clusters=2,
        ).collect()
    }
    reasons = {i: out[i]["drop_reason"] for i in out}
    assert out[1]["kept"] and out[2]["kept"], reasons
    assert reasons[3] == "quality"
    assert reasons[4] == "language"
    assert reasons[5] == "perplexity"
    assert reasons[6] == "contaminated"
    assert reasons[7] == "exact_dup"
    assert reasons[8] == "near_dup"
    # semantic pair: exactly one of 9/10 survives, loser is semantic
    kept9, kept10 = out[9]["kept"], out[10]["kept"]
    assert kept9 != kept10
    assert reasons[10 if kept9 else 9] == "semantic_dup"
    # PII twins: after redaction they are byte-identical, so the
    # higher id is an exact dup; the survivor of the pair is itself a
    # near dup of doc 1 (base plus four tokens) and drops there —
    # exactly the masking-before-dedup cascade the stage order buys
    assert reasons[12] == "exact_dup"
    assert reasons[11] == "near_dup"


@pytest.mark.slow
def test_curate_learned_quality_stage(spark):
    """curate(quality_clf=...) drops classifier-rejected docs as
    'model_quality' (the GPT-3 filter as a pipeline stage); the
    Pareto variant keeps the gate deterministic; passing both or
    neither selector raises."""
    import pytest

    from timescale_cdc_spark.operators.curation import curate
    from timescale_cdc_spark.operators.quality_model import (
        fit_quality_classifier,
    )

    clean = [(i, "the quick brown fox jumps over the lazy dog "
                 f"variant {i} with plain natural words") for i in range(30)]
    junk = [(100 + i, f"zxq{i} vvkk{i} qqzz jjxx wwvv kkqq zzvv "
                      "xxjj vvww qqkk") for i in range(30)]
    labeled = spark.createDataFrame(
        [(i, t, 1.0) for i, t in clean] + [(i, t, 0.0) for i, t in junk],
        "doc_id long, text string, label double",
    )
    clf = fit_quality_classifier(
        labeled.filter("doc_id % 2 = 0"), num_features=1 << 14
    )

    docs = spark.createDataFrame(
        [(i, t) for i, t in clean + junk if i % 2 == 1],
        "doc_id long, text string",
    )
    out = {
        r["doc_id"]: r
        for r in curate(
            docs, min_quality=0.0, min_tokens=3,
            near_dup_threshold=1.01,  # variants near-dup each other
            quality_clf=clf, min_clf_prob=0.5,
        ).collect()
    }
    for i, _ in clean:
        if i % 2 == 1:
            assert out[i]["kept"], (i, out[i])
    for i, _ in junk:
        if i % 2 == 1:
            assert out[i]["drop_reason"] == "model_quality", (i, out[i])

    with pytest.raises(ValueError, match="exactly one"):
        curate(docs, quality_clf=clf)
    with pytest.raises(ValueError, match="exactly one"):
        curate(docs, quality_clf=clf, min_clf_prob=0.5,
               clf_pareto_alpha=9.0)


def test_pii_redaction_fuzz_cross_engine(spark):
    """Fuzz the RE2 ∩ Java-regex subset claim: 400 adversarial
    near-PII strings (valid/invalid emails, phones, IPs, fragments,
    adjacency, repeats) must redact BYTE-IDENTICALLY in Spark and
    DuckDB, and the per-category counts must agree with
    regexp_extract_all. Deterministic seed — a failure is a real
    divergence in the shared-subset assumption, not flake."""
    import random

    import duckdb

    from timescale_cdc_spark.operators.text import (
        PII_PATTERNS,
        PII_TOKENS,
        pii_stats,
        redact_pii,
    )

    rng = random.Random(42)
    frags = [
        "a@b.co", "x.y+z@mail.example.org", "no-at-sign.com", "@", "a@b",
        "a@b.c", "user@sub.domain.travel", "415-555-2671", "415.555.2671",
        "41-555-2671", "415-55-2671", "1234-555-2671", "415-555-26711",
        "1.2.3.4", "255.255.255.255", "999.999.999.999", "1.2.3",
        "1.2.3.4.5", "12.34.56.78", "v1.2.3.4x", "a1.2.3.4",
        "word", "w0rd5", "123", "...", "--", "a@@b.co", ".", "@b.co",
    ]
    docs = []
    for i in range(400):
        n = rng.randint(1, 12)
        docs.append((i, " ".join(rng.choice(frags) for _ in range(n))))
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {
        r["doc_id"]: r
        for r in redact_pii(pii_stats(df, "text"), "text").collect()
    }
    con = duckdb.connect()
    for i, text in docs:
        want_red = con.execute(
            "SELECT regexp_replace(regexp_replace(regexp_replace("
            "?, ?, ?, 'g'), ?, ?, 'g'), ?, ?, 'g')",
            [text,
             PII_PATTERNS["email"], PII_TOKENS["email"],
             PII_PATTERNS["phone"], PII_TOKENS["phone"],
             PII_PATTERNS["ip"], PII_TOKENS["ip"]],
        ).fetchone()[0]
        assert got[i]["pii_redacted"] == want_red, (i, text)
        for cat in ("email", "phone", "ip"):
            want_n = con.execute(
                "SELECT len(regexp_extract_all(?, ?))",
                [text, PII_PATTERNS[cat]],
            ).fetchone()[0]
            assert got[i][f"n_pii_{cat}"] == want_n, (i, cat, text)


def test_perplexity_scores_partition_invariant(spark):
    """The DECIMAL-summation determinism claim: per-doc cross-entropy
    and ppl must be BIT-identical no matter how the token rows are
    partitioned (double summation would reorder and drift) — the
    property the family='ppl' oracle hash rests on."""
    import random

    from timescale_cdc_spark.operators.text import (
        perplexity_scores,
        unigram_logprobs,
    )

    rng = random.Random(11)
    vocab = [f"w{i}" for i in range(200)]
    ref = spark.createDataFrame(
        [(i, " ".join(rng.choice(vocab) for _ in range(50)))
         for i in range(40)],
        "doc_id long, text string",
    )
    docs = spark.createDataFrame(
        [(i, " ".join(rng.choice(vocab + ["oov1", "oov2"])
                      for _ in range(80))) for i in range(60)],
        "doc_id long, text string",
    )
    lm, oov = unigram_logprobs(ref, "text")
    base = {
        r["doc_id"]: (r["cross_entropy"], r["ppl"])
        for r in perplexity_scores(docs, lm, oov, "text", "doc_id").collect()
    }
    for n_parts in (1, 7, 64):
        again = {
            r["doc_id"]: (r["cross_entropy"], r["ppl"])
            for r in perplexity_scores(
                docs.repartition(n_parts), lm.repartition(3), oov,
                "text", "doc_id",
            ).collect()
        }
        assert again == base, n_parts  # exact, not approx


def test_perplexity_buckets_approx_path_scale_safe(spark, sf_dir):
    """Round 11 (VERDICT r10 #2): the approx bucket path must (a)
    assign buckets WITHOUT any global-sort machinery — no Window, no
    Exchange SinglePartition in the assignment plan — and (b) agree
    with the exact ntile split except at quantile boundaries; 'auto'
    must pick exact below the size guard and approx above it."""
    from timescale_cdc_spark.operators.text import (
        perplexity_buckets,
        release_ppl_caches,
        unigram_logprobs,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    ref = docs.filter(F.col("doc_id") % 11 == 0)
    rest = docs.filter(F.col("doc_id") % 11 != 0)
    lm, oov = unigram_logprobs(ref, "text")

    exact = perplexity_buckets(
        rest, lm, oov, "text", "doc_id", method="exact"
    )
    approx = perplexity_buckets(
        rest, lm, oov, "text", "doc_id", method="approx"
    )

    # (a) plan shape: the single-task sort is GONE from the approx path
    exact_plan = exact._jdf.queryExecution().executedPlan().toString()
    approx_plan = approx._jdf.queryExecution().executedPlan().toString()
    assert "Window" in exact_plan  # the ntile path really does sort
    assert "Window" not in approx_plan
    assert "SinglePartition" not in approx_plan

    # (b) agreement: identical doc sets, same scores, and bucket labels
    # differ only at quantile boundaries (sketch rank error)
    e = {r["doc_id"]: (r["ppl"], r["ppl_bucket"]) for r in exact.collect()}
    a = {r["doc_id"]: (r["ppl"], r["ppl_bucket"]) for r in approx.collect()}
    assert set(e) == set(a)
    assert all(e[k][0] == a[k][0] for k in e)  # scores identical
    n_diff = sum(1 for k in e if e[k][1] != a[k][1])
    assert n_diff / len(e) < 0.02, f"{n_diff}/{len(e)} bucket mismatches"
    # every bucket is populated on both paths
    from collections import Counter

    ca = Counter(v[1] for v in a.values())
    assert set(ca) == {"head", "middle", "tail"}
    # near-equal split (quantile thresholds on a continuous-ish score)
    assert max(ca.values()) <= 1.3 * min(ca.values()), ca

    # (c) the auto guard: below the threshold → exact (ntile window),
    # above → approx (no window)
    auto_small = perplexity_buckets(
        rest, lm, oov, "text", "doc_id", method="auto",
        exact_max_rows=10**9,
    )
    plan = auto_small._jdf.queryExecution().executedPlan().toString()
    assert "Window" in plan
    auto_big = perplexity_buckets(
        rest, lm, oov, "text", "doc_id", method="auto", exact_max_rows=1
    )
    plan = auto_big._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan

    assert release_ppl_caches() >= 2  # approx calls tracked + released


def test_dedup_substrings_hand_computed(spark):
    """Exact substring dedup (Lee et al. 2022, round 11): a word
    n-gram appearing in more than max_freq documents is a duplicated
    span — its union of [pos, pos+n) windows is removed from EVERY
    occurrence (the published tool's remove-all-copies policy);
    unique text survives verbatim."""
    from timescale_cdc_spark.operators.decontam import dedup_substrings

    corpus = spark.createDataFrame(
        [
            # docs 1 & 2 share the 5-word span 'all rights reserved
            # by owner' in different surroundings
            (1, "alpha beta all rights reserved by owner gamma delta"),
            (2, "intro words here all rights reserved by owner"),
            # unique doc: untouched
            (3, "a perfectly unique sentence with no repeats at all"),
            # doc 4 duplicates doc 3's head too — 3 is then ALSO cut
            (4, "a perfectly unique sentence tail differs here now"),
        ],
        "doc_id long, text string",
    )
    rows = {
        r["doc_id"]: r
        for r in dedup_substrings(
            corpus, "text", "doc_id", n=4, max_freq=1
        ).collect()
    }
    # doc1: grams at pos 2,3,4 hit ('all rights reserved by',
    # 'rights reserved by owner' shared; 'reserved by owner gamma' is
    # unique) — wait: shared 4-grams are pos2 and pos3 → cover words
    # 2..6 ('all rights reserved by owner') exactly
    assert rows[1]["clean_text"] == "alpha beta gamma delta"
    assert rows[1]["duplicated"] is True
    assert rows[2]["clean_text"] == "intro words here"
    # docs 3,4 share 'a perfectly unique sentence' (pos 0) → words
    # 0..3 removed from both
    assert rows[3]["clean_text"] == "with no repeats at all"
    assert rows[4]["clean_text"] == "tail differs here now"
    assert all(rows[d]["duplicated"] for d in (1, 2, 3, 4))


def test_dedup_substrings_occurrence_mode_and_threshold(spark):
    """freq='occurrences' catches a span repeated inside ONE doc
    (doc-frequency alone cannot); max_freq raises the tolerance so
    common short boilerplate survives."""
    from timescale_cdc_spark.operators.decontam import dedup_substrings

    corpus = spark.createDataFrame(
        [
            (1, "spam spam spam spam spam ham unique ending words"),
            (2, "totally different other text body with fresh words"),
        ],
        "doc_id long, text string",
    )
    # docs mode: 'spam spam spam' appears only in doc 1 → df=1 → kept
    by_doc = {
        r["doc_id"]: r
        for r in dedup_substrings(
            corpus, "text", "doc_id", n=3, max_freq=1, freq="docs"
        ).collect()
    }
    assert by_doc[1]["duplicated"] is False
    assert by_doc[1]["clean_text"] == by_doc[1]["text"]
    # occurrence mode: 'spam spam spam' occurs 3× → positions 0,1,2
    # hit → words 0..4 removed
    by_occ = {
        r["doc_id"]: r
        for r in dedup_substrings(
            corpus, "text", "doc_id", n=3, max_freq=1,
            freq="occurrences",
        ).collect()
    }
    assert by_occ[1]["duplicated"] is True
    assert by_occ[1]["clean_text"] == "ham unique ending words"
    assert by_occ[2]["duplicated"] is False
    # raising the threshold past the repeat count keeps everything
    tol = {
        r["doc_id"]: r
        for r in dedup_substrings(
            corpus, "text", "doc_id", n=3, max_freq=3,
            freq="occurrences",
        ).collect()
    }
    assert not tol[1]["duplicated"] and not tol[2]["duplicated"]
    import pytest as _pt

    with _pt.raises(ValueError):
        dedup_substrings(corpus, "text", "doc_id", n=3, freq="bogus")


def test_dedup_substrings_hashed_matches_exact(spark):
    """xxhash64 and portable-string gram keys agree end-to-end on a
    real corpus slice with planted cross-doc duplicate spans."""
    from timescale_cdc_spark.operators.decontam import dedup_substrings

    docs = load_table(spark, SF_DIR, "documents").select(
        "doc_id", "text"
    ).limit(150)
    planted = docs.filter(F.col("doc_id") % 7 == 0).select(
        (F.col("doc_id") + 10_000).alias("doc_id"),
        F.concat(F.lit("noise prefix words "), F.col("text")).alias("text"),
    )
    corpus = docs.unionByName(planted)
    cols = ["doc_id", "clean_text", "n_hit_positions", "n_removed_words"]
    a = dedup_substrings(corpus, "text", "doc_id", n=5,
                         hashed=True).select(cols)
    b = dedup_substrings(corpus, "text", "doc_id", n=5,
                         hashed=False).select(cols)
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0
    # the planted copies really did trigger removal somewhere
    flagged = dedup_substrings(corpus, "text", "doc_id", n=5)
    assert flagged.filter(F.col("duplicated")).count() > 0


@pytest.mark.slow
def test_sq8_index_matches_one_shot(spark, sf_dir, tmp_path):
    """Round 11 (VERDICT r10 #4): the persisted Sq8Index must return
    EXACTLY what one-shot sq8_topk returns on the same corpus (same
    bounds → same codes → same candidates → same exact refine), while
    serving repeat batches without re-training bounds or re-encoding
    — pinned by querying twice and by the meta surface."""
    from timescale_cdc_spark.operators.sq8 import Sq8Index, sq8_topk

    em = load_table(spark, sf_dir, "embeddings")
    q = em.filter(F.col("vec_id") < 10)
    idx = Sq8Index(spark, str(tmp_path / "sq8")).build(em)
    want = {(r.q_id, r.c_id, r.cos, r.rank)
            for r in sq8_topk(em, q, k=5, rerank=50).collect()}
    got1 = {(r.q_id, r.c_id, r.cos, r.rank)
            for r in idx.topk(q, k=5, rerank=50).collect()}
    got2 = {(r.q_id, r.c_id, r.cos, r.rank)
            for r in idx.topk(q, k=5, rerank=50).collect()}
    assert got1 == want and got2 == want
    info = idx.meta()
    assert info["dim"] == len(em.first()["embedding"])
    assert info["n_at_build"] == em.count()
    assert len(info["_vmin"]) == info["dim"]
    # a rebuilt instance pointed at the same path serves identically
    got3 = {(r.q_id, r.c_id, r.cos, r.rank)
            for r in Sq8Index(spark, str(tmp_path / "sq8"))
            .topk(q, k=5, rerank=50).collect()}
    assert got3 == want


@pytest.mark.slow
def test_curate_substring_duplication_stage(spark):
    """curate(substr_n=...) — the Gopher duplicated-content filter
    (round 11): exact-dedup survivors whose cross-doc duplicated-span
    ratio reaches the cap drop as 'substr_dup'; unique docs and docs
    below the cap pass through; the stage is inert when substr_n is
    None; exact copies still resolve as exact_dup FIRST (the stage
    must never see byte-identical pairs as 100% duplicated)."""
    from timescale_cdc_spark.operators.curation import curate

    shared = "quick brown foxes jump over many lazy sleeping dogs today"
    corpus = spark.createDataFrame(
        [
            # heavy-overlap pair: >=50% of each doc is the shared span
            (1, f"alpha beta {shared}"),
            (2, f"{shared} gamma delta epsilon"),
            # unique docs: must survive
            (3, "a completely unique document about distributed "
                "query engines and their optimizers"),
            (4, "another standalone text with its own vocabulary "
                "covering storage formats and encodings"),
            # exact copies: one survives as the keeper, the other is
            # exact_dup — NOT substr_dup
            (5, "identical twin text body with enough tokens here"),
            (6, "identical twin text body with enough tokens here"),
        ],
        "doc_id long, text string",
    )
    out = {
        r["doc_id"]: r
        for r in curate(
            corpus, min_quality=0.0, min_tokens=3,
            substr_n=4, substr_max_ratio=0.5,
        ).collect()
    }
    assert not out[1]["kept"] and out[1]["drop_reason"] == "substr_dup"
    assert not out[2]["kept"] and out[2]["drop_reason"] == "substr_dup"
    assert out[3]["kept"] and out[4]["kept"]
    assert out[5]["kept"]
    assert not out[6]["kept"] and out[6]["drop_reason"] == "exact_dup"
    # inert when disabled: the heavy-overlap pair passes (their
    # Jaccard is below the near-dup threshold)
    base = {
        r["doc_id"]: r
        for r in curate(corpus, min_quality=0.0, min_tokens=3).collect()
    }
    assert base[1]["kept"] and base[2]["kept"]


def test_dedup_substrings_keep_first_policy(spark):
    """keep_first=True (Lee et al.'s 'remove all but one'): each
    duplicated span survives in its smallest-id document and is cut
    everywhere else — the corpus retains exactly one copy."""
    from timescale_cdc_spark.operators.decontam import dedup_substrings

    corpus = spark.createDataFrame(
        [
            (1, "alpha beta all rights reserved by owner gamma delta"),
            (2, "intro words here all rights reserved by owner"),
            (7, "prefix tokens all rights reserved by owner suffix"),
            (3, "a perfectly unique sentence with no repeats at all"),
        ],
        "doc_id long, text string",
    )
    rows = {
        r["doc_id"]: r
        for r in dedup_substrings(
            corpus, "text", "doc_id", n=4, max_freq=1, keep_first=True
        ).collect()
    }
    # doc 1 is the canonical (minimum id) holder — keeps everything
    assert rows[1]["clean_text"] == rows[1]["text"]
    assert rows[1]["duplicated"] is False
    # the other members lose the shared span
    assert rows[2]["clean_text"] == "intro words here"
    assert rows[7]["clean_text"] == "prefix tokens suffix"
    assert rows[2]["duplicated"] and rows[7]["duplicated"]
    # unique doc untouched
    assert rows[3]["clean_text"] == rows[3]["text"]
    # remove-all (default) still cuts the canonical copy too
    all_rows = {
        r["doc_id"]: r
        for r in dedup_substrings(
            corpus, "text", "doc_id", n=4, max_freq=1
        ).collect()
    }
    assert all_rows[1]["clean_text"] == "alpha beta gamma delta"


@pytest.mark.slow
def test_ivf_sq8_index_recall_and_pruning(spark, sf_dir, tmp_path):
    """IVF-SQ8 (round 11 — FAISS IVF<n>,SQ8): residual int8 codes in
    cell partitions, probe-pruned scan + exact refine. Recall@5 vs
    brute force ≥ the family floor on the fixture corpus, the codes
    scan is partition-pruned to the probed cells, and a re-opened
    index serves identically."""
    from timescale_cdc_spark.operators.similarity import brute_force_topk
    from timescale_cdc_spark.operators.sq8 import IvfSq8Index

    em = load_table(spark, sf_dir, "embeddings")
    q = em.filter(F.col("vec_id") < 10)
    idx = IvfSq8Index(spark, str(tmp_path / "ivfsq8")).build(
        em, n_cells=16
    )
    got = idx.topk(q, k=5, n_probe=4, rerank=50)
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [_cell" in plan or "_cell#" in plan
    rows = got.collect()
    approx = {(r.q_id, r.c_id) for r in rows}
    exact = {(r.q_id, r.c_id)
             for r in brute_force_topk(em, q, k=5).collect()}
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.5, f"IVF-SQ8 recall too low: {recall}"
    from collections import Counter

    per_q = Counter(r.q_id for r in rows)
    assert all(v == 5 for v in per_q.values())
    # cosines on surviving pairs are the EXACT refine values
    bf = {(r.q_id, r.c_id): r.cos
          for r in brute_force_topk(em, q, k=50).collect()}
    for r in rows:
        if (r.q_id, r.c_id) in bf:
            assert abs(r.cos - bf[(r.q_id, r.c_id)]) <= 1e-9
    # reopened instance, same results
    again = {(r.q_id, r.c_id, r.cos, r.rank)
             for r in IvfSq8Index(spark, str(tmp_path / "ivfsq8"))
             .topk(q, k=5, n_probe=4, rerank=50).collect()}
    assert again == {(r.q_id, r.c_id, r.cos, r.rank) for r in rows}


def test_normalize_url_and_dedup_by_key(spark):
    """normalize_url collapses the RefinedWeb-style URL variants
    (scheme/case/www/fragment/tracking-params/trailing slash) to one
    key, the SQL form re-derives the IDENTICAL key in DuckDB, and
    dedup_by_key keeps the lowest id per key with NULL keys passing
    through (round 12, VERDICT r11 #3)."""
    import duckdb

    from timescale_cdc_spark.operators.dedup import (
        dedup_by_key,
        normalize_url,
        normalize_url_sql,
    )

    urls = [
        "https://www.Example.com/Page/",
        "HTTP://example.com/page#section-2",
        "example.com/page?utm_source=tw&utm_medium=x",
        "https://example.com/page?fbclid=abc123",
        "https://example.com/page?a=1&gclid=zz&b=2",
        "https://example.com/page?a=1&b=2",
        "https://other.com/page?ref=hn",
        "  https://other.com/page/  ",
        None,
        None,
        # blank / whitespace / scheme-only: normalize to '' → must
        # become NULL ("no usable URL" behaves like a missing URL)
        # instead of collapsing all blank-URL docs into ONE dedup
        # group (round 12 review finding)
        "",
        "   ",
        "https://",
    ]
    df = spark.createDataFrame(
        [(i, u) for i, u in enumerate(urls)], "doc_id long, url string"
    )
    normed = df.select(
        "doc_id", normalize_url(F.col("url")).alias("k")
    )
    got = {r["doc_id"]: r["k"] for r in normed.collect()}
    # variants 0-1 and 2-3 collapse; 4 collapses with 5; 6-7 collapse
    assert got[0] == got[1] == "example.com/page"
    assert got[2] == got[3] == "example.com/page"
    assert got[4] == got[5] == "example.com/page&a=1&b=2"
    assert got[6] == got[7] == "other.com/page"
    assert got[8] is None and got[9] is None
    assert got[10] is None and got[11] is None and got[12] is None
    # DuckDB re-derivation: the SQL chain produces the SAME keys
    con = duckdb.connect()
    sql_keys = {
        i: con.execute(
            f"SELECT {normalize_url_sql('?')}", [u]
        ).fetchone()[0]
        for i, u in enumerate(urls)
        if u is not None
    }
    con.close()
    for i, k in sql_keys.items():
        assert k == got[i], (i, k, got[i])
    # dedup: lowest id per key wins; NULL-key rows (missing OR blank
    # URLs) all pass through instead of deduping against each other
    kept = sorted(
        r["doc_id"] for r in dedup_by_key(normed, "k", "doc_id").collect()
    )
    assert kept == [0, 4, 6, 8, 9, 10, 11, 12]
    # rank pushdown: the keep-first window plans as WindowGroupLimit
    plan = (
        dedup_by_key(normed, "k", "doc_id")
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "WindowGroupLimit" in plan


def test_curate_url_dedup_stage(spark):
    """curate(url_col=...): re-crawls (same normalized URL, DIFFERENT
    text — invisible to every content stage) drop as 'url_dup' keeping
    the lowest id, before any other stage judges them; docs without a
    URL pass through unjudged."""
    from timescale_cdc_spark.operators.curation import curate

    rows = [
        (1, "alpha beta gamma delta epsilon", "https://a.com/x"),
        # same page re-crawled with tracking params, rewritten text
        (2, "zeta eta theta iota kappa", "http://www.A.com/x?utm_source=f"),
        # junk text AND a dup URL: url stage claims it first
        (3, "x x", "https://a.com/x/"),
        (4, "lambda mu nu xi omicron", "https://b.com/y"),
        (5, "pi rho sigma tau upsilon", None),
        (6, "phi chi psi omega aleph", None),
    ]
    out = curate(
        spark.createDataFrame(
            rows, "doc_id long, text string, url string"
        ),
        url_col="url",
        min_quality=0.0,
        min_tokens=3,
    )
    by_id = {r["doc_id"]: r for r in out.collect()}
    assert by_id[1]["kept"]
    assert by_id[2]["drop_reason"] == "url_dup"
    assert by_id[3]["drop_reason"] == "url_dup"
    assert by_id[4]["kept"]
    assert by_id[5]["kept"] and by_id[6]["kept"]


def test_curate_source_cap_stage(spark):
    """curate(source_col=, source_cap=k): an over-represented source
    keeps exactly its deterministic k-doc reservoir (drops tagged
    'source_capped'), junk never consumes cap budget (quality runs
    first), other sources are untouched, and the keep set is exactly
    the k smallest det_hash ranks — re-derived here in DuckDB."""
    import duckdb

    from timescale_cdc_spark.operators.curation import curate
    from timescale_cdc_spark.operators.sampling import det_hash_sql

    rows = [
        (i, f"w{i} x{i} y{i} z{i} q{i}", "big")
        for i in range(40)
    ]
    # junk docs from the same source must NOT count against the cap
    rows += [(100 + i, "x x", "big") for i in range(5)]
    rows += [(200 + i, f"a{i} b{i} c{i} d{i} e{i}", "small")
             for i in range(3)]
    out = curate(
        spark.createDataFrame(
            rows, "doc_id long, text string, source string"
        ),
        min_quality=0.0,
        min_tokens=3,
        source_col="source",
        source_cap=10,
        source_cap_salt="cap12",
    )
    by_id = {r["doc_id"]: r for r in out.collect()}
    big_kept = [i for i in range(40) if by_id[i]["kept"]]
    assert len(big_kept) == 10
    assert all(
        by_id[i]["drop_reason"] == "source_capped"
        for i in range(40)
        if i not in big_kept
    )
    # junk drops as quality (earlier stage), not source_capped
    assert all(
        by_id[100 + i]["drop_reason"] == "quality" for i in range(5)
    )
    # the small source is under the cap: fully kept
    assert all(by_id[200 + i]["kept"] for i in range(3))
    # cross-engine: the keep set IS the 10 smallest det_hash ranks
    con = duckdb.connect()
    h = det_hash_sql(["doc_id"], "cap12")
    want = {
        r[0]
        for r in con.execute(
            f"""
            SELECT doc_id FROM (VALUES {",".join(f"({i})" for i in range(40))})
                 AS t(doc_id)
            ORDER BY {h}, doc_id LIMIT 10
            """
        ).fetchall()
    }
    con.close()
    assert set(big_kept) == want


@pytest.mark.slow
def test_curate_guards_and_null_policies(spark):
    """Round-12 review findings: (1) half-specified optional stages
    raise instead of silently skipping; (2) NULL-source rows bypass
    the per-source cap (missing key = unjudged, like the URL stage);
    (3) allowed_langs=[] means 'no languages allowed' (drop all), not
    'filter disabled'; (4) connected_components rejects string ids
    with guidance rather than mis-casting."""
    import pytest as _pytest

    from timescale_cdc_spark.operators.components import (
        connected_components,
    )
    from timescale_cdc_spark.operators.curation import curate

    docs = spark.createDataFrame(
        [(i, f"w{i} x{i} y{i} z{i} q{i}") for i in range(6)],
        "doc_id long, text string",
    )
    with _pytest.raises(ValueError, match="BOTH ppl_ref and max_ppl"):
        curate(docs, max_ppl=50.0)
    with _pytest.raises(ValueError, match="BOTH ppl_ref and max_ppl"):
        curate(docs, ppl_ref=docs)
    with _pytest.raises(ValueError, match="need quality_clf"):
        curate(docs, min_clf_prob=0.5)
    with _pytest.raises(ValueError, match="needs source_cap"):
        curate(docs, source_col="source")

    # NULL-source rows bypass the cap entirely
    src_rows = [
        (i, f"w{i} x{i} y{i} z{i} q{i}", "big") for i in range(20)
    ] + [
        (100 + i, f"a{i} b{i} c{i} d{i} e{i}", None) for i in range(8)
    ]
    out = curate(
        spark.createDataFrame(
            src_rows, "doc_id long, text string, source string"
        ),
        min_quality=0.0,
        min_tokens=3,
        source_col="source",
        source_cap=5,
    )
    by_id = {r["doc_id"]: r for r in out.collect()}
    assert sum(by_id[i]["kept"] for i in range(20)) == 5
    assert all(by_id[100 + i]["kept"] for i in range(8)), (
        "NULL-source docs must pass through the cap unjudged"
    )

    # empty allow-list drops everything as 'language'
    out = curate(docs, min_quality=0.0, min_tokens=3, allowed_langs=[])
    assert all(
        (not r["kept"]) and r["drop_reason"] == "language"
        for r in out.collect()
    )

    # NON-numeric string node ids raise with guidance; integral-text
    # string ids stay supported (they cast('long') exactly — the
    # pre-r12 behavior external callers relied on, ADVICE r12)
    pairs = spark.createDataFrame(
        [("doc-a", "doc-b")], "id_a string, id_b string"
    )
    with _pytest.raises(ValueError, match="integral text"):
        connected_components(pairs)
    numeric = spark.createDataFrame(
        [("1", "2"), ("2", "3")], "id_a string, id_b string"
    )
    got = {(r["node"], r["component"])
           for r in connected_components(numeric).collect()}
    assert got == {(1, 1), (2, 1), (3, 1)}
    # non-string, non-integral types still raise the type message
    dbl = spark.createDataFrame([(1.0, 2.0)], "id_a double, id_b double")
    with _pytest.raises(ValueError, match="integral node ids"):
        connected_components(dbl)


@pytest.mark.slow
def test_sq8_index_append_and_staleness(spark, sf_dir, tmp_path):
    """Round 12 (VERDICT r11 #4): Sq8Index.append absorbs inserts
    with the FROZEN bounds (out-of-range clamps), appended vectors
    are immediately queryable with EXACT refined cosines, and
    staleness() reports appended/clamp fractions that trip the
    rebuild trigger as drift grows."""
    from timescale_cdc_spark.operators.sq8 import Sq8Index

    em = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    base = em.filter(F.col("vec_id") % 4 != 0)
    extra = em.filter(F.col("vec_id") % 4 == 0)
    idx = Sq8Index(spark, str(tmp_path / "sq8a")).build(base)
    s0 = idx.staleness()
    assert s0["appended_fraction"] == 0.0
    assert s0["clamp_fraction"] == 0.0
    assert not s0["rebuild_recommended"]

    idx.append(extra)
    n_base, n_extra = base.count(), extra.count()
    s1 = idx.staleness()
    assert s1["n_now"] == n_base + n_extra
    assert abs(
        s1["appended_fraction"] - n_extra / (n_base + n_extra)
    ) < 1e-9
    # in-distribution appends: nothing clamps, no rebuild yet
    # (embeddings fixture splits are iid; extra stays in bounds or
    # clamps only marginally)
    assert s1["clamp_fraction"] <= 0.5

    # an appended vector is queryable: query WITH an appended id's
    # exact vector finds it at rank 1 (cos 1.0, exact refine on raw)
    probe_id = extra.select("vec_id").orderBy("vec_id").first()["vec_id"]
    q = extra.filter(F.col("vec_id") == probe_id).select(
        (F.col("vec_id") + 10_000_000).alias("vec_id"), "embedding"
    )
    top = idx.topk(q, k=1, rerank=20).collect()
    assert len(top) == 1
    assert top[0]["c_id"] == probe_id and top[0]["cos"] == 1.0

    # drift: far-out-of-bounds appends clamp and trip the trigger
    drift = extra.select(
        (F.col("vec_id") + 20_000_000).alias("vec_id"),
        F.transform(
            "embedding", lambda x: x * F.lit(100.0) + F.lit(50.0)
        ).alias("embedding"),
    )
    idx.append(drift)
    s2 = idx.staleness()
    assert s2["clamp_fraction"] > 0.10
    assert s2["rebuild_recommended"]


@pytest.mark.slow
def test_ivf_sq8_index_append_and_staleness(spark, sf_dir, tmp_path):
    """Round 12 (VERDICT r11 #4): IvfSq8Index.append assigns new
    vectors to FROZEN centroids + encodes residuals with FROZEN
    bounds into the cell partition dirs; appended vectors are
    findable via the pruned probe path; staleness() carries the
    IvfIndex contract fields and flips rebuild_recommended past the
    appended-fraction threshold."""
    from timescale_cdc_spark.operators.sq8 import IvfSq8Index

    em = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    base = em.filter(F.col("vec_id") % 3 != 0)
    extra = em.filter(F.col("vec_id") % 3 == 0)
    idx = IvfSq8Index(spark, str(tmp_path / "ivfsq8a")).build(
        base, n_cells=8
    )
    s0 = idx.staleness()
    assert s0["appended_fraction"] == 0.0
    assert 0.5 < s0["qerr_ratio"] < 1.5
    assert not s0["rebuild_recommended"]

    idx.append(extra)
    n_base, n_extra = base.count(), extra.count()
    s1 = idx.staleness()
    assert s1["n_now"] == n_base + n_extra
    assert abs(
        s1["appended_fraction"] - n_extra / (n_base + n_extra)
    ) < 1e-9
    # ~1/3 appended > 0.25 threshold
    assert s1["rebuild_recommended"]

    # appended vector findable through the pruned probe path
    probe_id = extra.select("vec_id").orderBy("vec_id").first()["vec_id"]
    q = extra.filter(F.col("vec_id") == probe_id).select(
        (F.col("vec_id") + 10_000_000).alias("vec_id"), "embedding"
    )
    top = idx.topk(q, k=1, n_probe=3, rerank=20).collect()
    assert len(top) == 1
    assert top[0]["c_id"] == probe_id and top[0]["cos"] == 1.0


@pytest.mark.slow
def test_sq8_index_repair_recovers_interrupted_append(spark, sf_dir, tmp_path):
    """Round 12 review finding: append's two sink writes are not
    atomic. Raw commits FIRST, so a crash between them leaves
    raw-without-codes — the vector is invisible to the compressed
    shortlist (bounded recall gap, NEVER a silently dropped refine
    row) — and repair() re-encodes exactly the missing ids, after
    which the vector is found with an exact refined cosine."""
    from timescale_cdc_spark.operators.sq8 import IvfSq8Index, Sq8Index

    em = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    idx = Sq8Index(spark, str(tmp_path / "sq8r")).build(em)
    victim = em.orderBy("vec_id").first()
    phantom_id = victim["vec_id"] + 30_000_000
    # simulate the crash window: the raw append committed, codes never did
    spark.createDataFrame(
        [(phantom_id, victim["embedding"])], "c_id long, c_vec array<double>"
    ).write.mode("append").parquet(str(tmp_path / "sq8r" / "raw"))
    spark.catalog.refreshByPath(str(tmp_path / "sq8r" / "raw"))
    assert idx.raw().count() == idx.codes().count() + 1
    q = spark.createDataFrame(
        [(1, victim["embedding"])], "vec_id long, embedding array<double>"
    )
    # invisible to the shortlist: top hits exclude the phantom id...
    assert phantom_id not in {
        r["c_id"] for r in idx.topk(q, k=5, rerank=20).collect()
    }
    assert idx.repair() == 1
    assert idx.repair() == 0  # idempotent
    assert idx.raw().count() == idx.codes().count()
    # ...and found at cos 1.0 once repaired (ties with the victim row)
    got = {r["c_id"] for r in idx.topk(q, k=5, rerank=20).collect()}
    assert phantom_id in got

    ivf = IvfSq8Index(spark, str(tmp_path / "ivfsq8r")).build(em, n_cells=4)
    cell = ivf.centroids().select("_cell").orderBy("_cell").first()["_cell"]
    spark.createDataFrame(
        [(phantom_id, victim["embedding"], cell)],
        "c_id long, c_vec array<double>, _cell int",
    ).write.mode("append").partitionBy("_cell").parquet(
        str(tmp_path / "ivfsq8r" / "raw")
    )
    spark.catalog.refreshByPath(str(tmp_path / "ivfsq8r" / "raw"))
    assert ivf.repair() == 1
    assert ivf.repair() == 0
    assert ivf.raw().count() == ivf.codes().count()
    got = {
        r["c_id"]
        for r in ivf.topk(q, k=5, n_probe=4, rerank=20).collect()
    }
    assert phantom_id in got


def test_perplexity_buckets_single_bucket_guard(spark):
    """ADVICE r11: n_buckets=1 on the approx path previously crashed
    (percentile_approx over an empty percentage array → NULL
    thresholds → TypeError). Now every method returns the constant
    bucket, and n_buckets=0 raises."""
    import pytest as _pytest

    from timescale_cdc_spark.operators.text import (
        perplexity_buckets,
        unigram_logprobs,
    )

    docs = spark.createDataFrame(
        [(i, f"the quick fox {i}") for i in range(10)],
        "doc_id long, text string",
    )
    lm, oov = unigram_logprobs(docs, "text")
    for method in ("exact", "approx", "auto"):
        out = perplexity_buckets(
            docs, lm, oov, "text", "doc_id", n_buckets=1, method=method
        )
        labels = {r["ppl_bucket"] for r in out.collect()}
        assert labels == {"b1"}, (method, labels)
    with _pytest.raises(ValueError):
        perplexity_buckets(
            docs, lm, oov, "text", "doc_id", n_buckets=0
        )


# ---------------------------------------------------------------------------
# round 14 (VERDICT r13 #4): delete/tombstone maintenance for the
# persisted ANN indexes
# ---------------------------------------------------------------------------


def _tomb_dir(path):
    import os

    return os.path.join(str(path), "tombstones")


@pytest.mark.slow
def test_ivf_index_delete_compact_purges(spark, sf_dir, tmp_path):
    """IvfIndex takedown path: delete() hides ids from topk/corpus
    immediately (anti-join, no rewrite), staleness() reports the
    deleted fraction and flips compact_recommended past 10%, and
    compact() physically purges the rows + clears the tombstones
    while leaving surviving results bit-identical."""
    import os

    from timescale_cdc_spark.operators.ann_index import IvfIndex

    em = load_table(spark, sf_dir, "embeddings")
    queries = em.filter(F.col("vec_id") < 10)
    path = str(tmp_path / "ivf_d")
    idx = IvfIndex(spark, path).build(em, n_clusters=8)
    n_all = em.count()

    before = {(r.q_id, r.c_id, r.cos)
              for r in idx.topk(queries, k=5, n_probe=3).collect()}
    victims = sorted({r[1] for r in before})[:3]

    assert idx.delete(victims) == 3
    assert idx.delete(victims) == 0  # idempotent: already tombstoned
    # immediate: deleted ids leave corpus() and every topk at once
    assert idx.corpus().count() == n_all - 3
    during = {(r.q_id, r.c_id, r.cos)
              for r in idx.topk(queries, k=5, n_probe=3).collect()}
    assert not {p for p in during if p[1] in set(victims)}
    assert during != before  # the victims were in before's pairs

    s = idx.staleness()
    assert abs(s["deleted_fraction"] - 3 / n_all) < 1e-9
    assert not s["compact_recommended"]  # 3 ids << 10%
    # live accounting: build-time rows deleted → clamped at 0
    assert s["appended_fraction"] == 0.0 and s["n_now"] == n_all - 3

    rewritten = idx.compact()
    assert rewritten == n_all - 3
    assert not os.path.isdir(_tomb_dir(path))
    # physically gone: the bare scan (no tombstone filter) agrees
    bare = spark.read.parquet(os.path.join(path, "corpus"))
    assert bare.count() == n_all - 3
    assert bare.filter(F.col("c_id").isin(victims)).count() == 0
    after = {(r.q_id, r.c_id, r.cos)
             for r in idx.topk(queries, k=5, n_probe=3).collect()}
    assert after == during
    # the deleted-share trigger flips once past 10%
    many = [r["vec_id"] for r in
            em.select("vec_id").orderBy("vec_id").limit(
                int(n_all * 0.12) + 1).collect()]
    idx.delete(many)
    assert idx.staleness()["compact_recommended"]


@pytest.mark.slow
def test_lsh_index_delete_compact(spark, sf_dir, tmp_path):
    """LshIndex: delete() drops an id out of every band at once
    (DataFrame-shaped ids), deleted_fraction() is the id-level share,
    and compact() rewrites the banded table minus the dead ids behind
    the crash-safe swap (tmp/old debris recovered first)."""
    import os
    import shutil

    from timescale_cdc_spark.operators.ann_index import LshIndex

    em = load_table(spark, sf_dir, "embeddings")
    queries = em.filter(F.col("vec_id") < 10)
    path = str(tmp_path / "lsh_d")
    idx = LshIndex(spark, path).build(em)
    n_ids = em.count()
    chunks = idx.meta()["chunks"]
    assert idx.banded().count() == n_ids * chunks

    before = {(r.q_id, r.c_id, r.rank, r.cos)
              for r in idx.topk(queries, k=5).collect()}
    victims = sorted({r[1] for r in before})[:2]
    # DataFrame-shaped delete batch (extra columns ignored)
    batch = em.filter(F.col("vec_id").isin(victims))
    assert idx.delete(batch) == 2
    assert idx.banded().count() == (n_ids - 2) * chunks
    assert abs(idx.deleted_fraction() - 2 / n_ids) < 1e-9
    during = {(r.q_id, r.c_id, r.rank, r.cos)
              for r in idx.topk(queries, k=5).collect()}
    assert not {p for p in during if p[1] in set(victims)}

    # crash debris from an interrupted prior compact must self-heal
    banded_dir = os.path.join(path, "banded")
    shutil.copytree(banded_dir, banded_dir + SWAP_TMP)
    assert idx.compact() == (n_ids - 2) * chunks
    assert not os.path.isdir(_tomb_dir(path))
    assert not os.path.isdir(banded_dir + SWAP_TMP)
    bare = spark.read.parquet(banded_dir)
    assert bare.count() == (n_ids - 2) * chunks
    assert bare.filter(F.col("c_id").isin(victims)).count() == 0
    assert idx.deleted_fraction() == 0.0
    after = {(r.q_id, r.c_id, r.rank, r.cos)
             for r in idx.topk(queries, k=5).collect()}
    assert after == during


@pytest.mark.slow
def test_sq8_families_delete_compact(spark, sf_dir, tmp_path):
    """Sq8Index + IvfSq8Index: a deleted id leaves the compressed
    shortlist AND the exact refine at once (no half-deleted state),
    compact() purges codes and raw together, and the IVF variant's
    cell partitioning survives the purge (probes keep pruning)."""
    import os

    from timescale_cdc_spark.operators.sq8 import IvfSq8Index, Sq8Index

    em = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    n_all = em.count()
    victim = em.orderBy("vec_id").first()
    q = spark.createDataFrame(
        [(1, victim["embedding"])], "vec_id long, embedding array<double>"
    )

    for cls, path, kw in (
        (Sq8Index, str(tmp_path / "sq8_d"), {}),
        (IvfSq8Index, str(tmp_path / "ivfsq8_d"), {"n_cells": 4}),
    ):
        idx = cls(spark, path).build(em, **kw)
        topkw = {"n_probe": 4} if cls is IvfSq8Index else {}
        assert victim["vec_id"] in {
            r["c_id"]
            for r in idx.topk(q, k=3, rerank=20, **topkw).collect()
        }
        assert idx.delete([victim["vec_id"]]) == 1
        assert idx.codes().count() == n_all - 1
        assert idx.raw().count() == n_all - 1
        got = {
            r["c_id"]
            for r in idx.topk(q, k=3, rerank=20, **topkw).collect()
        }
        assert victim["vec_id"] not in got
        s = idx.staleness()
        assert abs(s["deleted_fraction"] - 1 / n_all) < 1e-9
        assert s["appended_fraction"] == 0.0  # clamped, not negative

        assert idx.compact() == n_all - 1
        assert not os.path.isdir(_tomb_dir(path))
        for sub in ("codes", "raw"):
            bare = spark.read.parquet(os.path.join(path, sub))
            assert bare.count() == n_all - 1
            assert bare.filter(
                F.col("c_id") == victim["vec_id"]
            ).count() == 0
        if cls is IvfSq8Index:
            # cell layout survives: partition dirs still present and
            # the probe path still partition-prunes
            cells = [n for n in os.listdir(os.path.join(path, "codes"))
                     if n.startswith("_cell=")]
            assert cells
            plan = (
                idx.topk(q, k=3, rerank=20, **topkw)
                ._jdf.queryExecution().executedPlan().toString()
            )
            assert "PartitionFilters" in plan and "_cell" in plan
        assert {
            r["c_id"]
            for r in idx.topk(q, k=3, rerank=20, **topkw).collect()
        } == got


# ---------------------------------------------------------------------------
# round 14: line/paragraph-level dedup (CCNet boilerplate removal)
# ---------------------------------------------------------------------------


def _linededup_reference(rows, mode):
    """Pure-python reference: same normalization, same keep rule."""
    import re

    def norm(s):
        return re.sub(r"\s+", " ", s.lower()).strip()

    occ = {}
    for did, text in rows:
        for pos, line in enumerate(text.split("\n")):
            n = norm(line)
            if not n:
                continue
            occ.setdefault(n, []).append((did, pos, line))
    kept = {}
    for n, sites in occ.items():
        if mode == "keep_first":
            sites = [min(sites)]
        elif len(sites) > 1:
            sites = []
        for did, pos, line in sites:
            kept.setdefault(did, []).append((pos, line))
    return {
        did: ("\n".join(l for _, l in sorted(ls)), len(ls))
        for did, ls in kept.items()
    }


def test_dedupe_lines_modes_match_reference(spark):
    from timescale_cdc_spark.operators.dedup import dedupe_lines

    boiler = "Subscribe to our newsletter"
    rows = [
        (1, f"alpha one\n{boiler}\ncontent of doc one"),
        (2, f"beta two\n{boiler}\ncontent of doc two"),
        # same boilerplate with different case/whitespace — must
        # collide through the normalization but keep ORIGINAL text
        (3, f"gamma three\n  subscribe   TO our newsletter \nmore"),
        # a doc that is ALL boilerplate (drop_all removes everything)
        (4, boiler),
        (5, f"{boiler}\ndelta five"),
    ]
    df = spark.createDataFrame(rows, "doc_id int, text string")
    for mode in ("keep_first", "drop_all"):
        ref = _linededup_reference(rows, mode)
        got = {
            r["doc_id"]: (r["text"], r["n_lines"])
            for r in dedupe_lines(df, "text", "doc_id", mode=mode).collect()
        }
        assert got == ref, (mode, got, ref)
    # keep_first: doc 1 keeps the boilerplate (lowest (id, pos)),
    # docs 2/3/5 lose it, original casing survives in the keeper
    kf = {
        r["doc_id"]: r["text"]
        for r in dedupe_lines(df, "text", "doc_id").collect()
    }
    assert boiler in kf[1] and boiler not in kf[2]
    assert kf[3] == "gamma three\nmore"
    # drop_all: the boilerplate dies everywhere; doc 4 vanishes...
    da = dedupe_lines(df, "text", "doc_id", mode="drop_all")
    ids = {r["doc_id"] for r in da.collect()}
    assert 4 not in ids
    # ...unless drop_empty=False returns it with empty text
    da_keep = {
        r["doc_id"]: (r["text"], r["n_lines"])
        for r in dedupe_lines(
            df, "text", "doc_id", mode="drop_all", drop_empty=False
        ).collect()
    }
    assert da_keep[4] == ("", 0)
    assert set(da_keep) == {1, 2, 3, 4, 5}


def test_dedupe_lines_duplicate_ids_yield_one_row_each(spark):
    """id_col is a key (round 15, VERDICT r14): duplicate input ids
    pool their lines into ONE output doc, and the drop_empty=False
    re-attach spine is deduplicated — no silent row multiplication."""
    from timescale_cdc_spark.operators.dedup import dedupe_lines

    df = spark.createDataFrame(
        [(1, "alpha\nshared"), (1, "beta\nshared"), (2, "shared\ngamma")],
        "doc_id int, text string",
    )
    for drop_empty in (True, False):
        out = dedupe_lines(
            df, "text", "doc_id", drop_empty=drop_empty
        ).collect()
        assert sorted(r["doc_id"] for r in out) == [1, 2]
        got = {r["doc_id"]: r["text"] for r in out}
        # id 1's two rows pooled; 'shared' kept once at its lowest
        # (id, pos) site, which lands in id 1's pool
        assert "shared" in got[1] and got[2] == "gamma"


def test_dedupe_lines_plan_is_group_limited(spark):
    """keep_first must plan the rank-1 keep as WindowGroupLimit — the
    property that a boilerplate line in half the corpus never funnels
    into one hot task (same pin as the exact-dedup family)."""
    from timescale_cdc_spark.operators.dedup import dedupe_lines

    df = spark.createDataFrame(
        [(i, f"line a{i}\nshared line\nline b{i}") for i in range(10)],
        "doc_id int, text string",
    )
    plan = (
        dedupe_lines(df, "text", "doc_id")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "WindowGroupLimit" in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
