"""Unit tests for the training-data pipeline operators."""

from __future__ import annotations

import math

from pyspark.sql import functions as F

from text_extract_api_spark.functions.dedup import (
    exact_dedup,
    jaccard_pairs,
    lsh_candidate_pairs,
    minhash_near_dups,
    simhash,
)
from text_extract_api_spark.functions.similarity import cosine_topk, lsh_topk
from text_extract_api_spark.functions.textstats import (
    lang_id_col,
    quality_score_col,
    token_count_col,
)


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_exact_dedup(spark):
    df = _docs(spark, [(1, "aa bb"), (2, "aa bb"), (3, "cc")])
    got = {r["content_hash"]: (r["canonical_id"], r["n_dups"]) for r in exact_dedup(df).collect()}
    assert len(got) == 2
    assert (1, 2) in got.values()
    assert (3, 1) in got.values()


def test_jaccard_identical_and_disjoint(spark):
    df = _docs(
        spark,
        [(1, "w1 w2 w3 w4 w5"), (2, "w1 w2 w3 w4 w5"), (3, "z1 z2 z3 z4 z5")],
    )
    rows = jaccard_pairs(df, threshold=0.99).collect()
    assert [(r["id_a"], r["id_b"], r["jaccard"]) for r in rows] == [(1, 2, 1.0)]


def test_jaccard_short_texts_no_crash(spark):
    df = _docs(spark, [(1, "one two"), (2, ""), (3, "a b c d")])
    assert jaccard_pairs(df, threshold=0.1).count() == 0


def test_lsh_candidates_superset_of_high_jaccard(spark):
    rows = [(i, "common one two three four five six seven") for i in range(1, 4)]
    rows += [(10, "entirely different vocabulary in this document here")]
    df = _docs(spark, rows)
    cands = {(r["id_a"], r["id_b"]) for r in lsh_candidate_pairs(df).collect()}
    assert (1, 2) in cands and (1, 3) in cands and (2, 3) in cands
    verified = minhash_near_dups(df, threshold=0.9)
    got = {(r["id_a"], r["id_b"]) for r in verified.collect()}
    assert got == {(1, 2), (1, 3), (2, 3)}


def test_simhash_identical_docs_equal_sig(spark):
    df = _docs(spark, [(1, "alpha beta gamma"), (2, "alpha beta gamma"), (3, "x y z")])
    sigs = {r["id"]: r["simhash"] for r in simhash(df).collect()}
    assert sigs[1] == sigs[2]
    assert len(sigs[1]) == 16 and set(sigs[1]) <= {"0", "1"}


def _emb(spark, vecs):
    return spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(vecs)],
        "vec_id long, embedding array<float>",
    )


def test_cosine_topk_exact(spark):
    vecs = [[1, 0, 0], [0.9, 0.1, 0], [0, 1, 0], [-1, 0, 0]]
    got = cosine_topk(_emb(spark, vecs), [1.0, 0.0, 0.0], k=2).collect()
    assert [r["vec_id"] for r in got] == [0, 1]
    assert got[0]["score"] == 1.0
    assert abs(got[1]["score"] - 0.9 / math.sqrt(0.82)) < 1e-3


def test_cosine_topk_batch_zero_norm_never_in_topk(spark):
    # ADVICE r3: all-zero embeddings divided 0/0 -> NaN, and Spark ranks
    # NaN GREATEST — NaN rows could seize top-k slots. Zero-norm vectors
    # must rank LAST (the JVM/DuckDB twins produce NULL there, which both
    # engines order last under score DESC).
    from text_extract_api_spark.functions.similarity import cosine_topk_batch

    vecs = [[1, 0, 0], [0, 0, 0], [0.5, 0.5, 0], [0, 1, 0], [0, 0, 0]]
    out = cosine_topk_batch(
        _emb(spark, vecs), [(0, [1.0, 0.0, 0.0])], k=3
    ).collect()
    got = [r["vec_id"] for r in out]
    assert got == [0, 2, 3]  # both zero-norm vectors (1, 4) excluded
    assert all(r["score"] == r["score"] for r in out)  # no NaN survives

    # zero-norm QUERY: every score is the sentinel; ranking still
    # deterministic (vec_id asc), nothing crashes
    out2 = cosine_topk_batch(_emb(spark, vecs), [(7, [0.0, 0.0, 0.0])], k=2).collect()
    assert [r["vec_id"] for r in out2] == [0, 1]


def test_lsh_topk_recovers_near_neighbors(spark):
    import hashlib

    def detvec(i):
        h = hashlib.md5(str(i).encode()).digest()
        return [(b - 127.5) / 128.0 for b in h]

    base = detvec(0)
    vecs = [base] + [
        [x + 0.01 * j for x in base] for j in range(1, 4)
    ] + [detvec(i) for i in range(10, 40)]
    emb = _emb(spark, vecs)
    exact = [r["vec_id"] for r in cosine_topk(emb, base, k=4).collect()]
    approx = [r["vec_id"] for r in lsh_topk(emb, base, k=4, n_planes=4).collect()]
    # near-identical vectors land in the same/adjacent buckets
    assert set(exact[:4]) == set(approx[:4]) == {0, 1, 2, 3}


def test_textstats_edges(spark):
    df = spark.createDataFrame(
        [("", ), ("   ", ), ("the cat and the dog of it", ), ("der und die der", )],
        "text string",
    ).select(
        token_count_col(F.col("text")).alias("n"),
        lang_id_col(F.col("text")).alias("lang"),
        quality_score_col(F.col("text")).alias("q"),
    )
    rows = df.collect()
    assert rows[0]["n"] == 0 and rows[1]["n"] == 0
    assert rows[0]["lang"] == "und"
    assert rows[2]["lang"] == "en"
    assert rows[3]["lang"] == "de"
    assert all(0.0 <= r["q"] <= 1.0 for r in rows)


def test_embedding_neardup_exact_vs_bucketed(spark):
    import hashlib

    from text_extract_api_spark.functions.similarity import embedding_neardup_pairs

    def detvec(i):
        h = hashlib.md5(str(i).encode()).digest()
        return [(b - 127.5) / 128.0 for b in h]

    base = detvec(0)
    vecs = [base, [x + 0.005 for x in base]] + [detvec(i) for i in range(10, 30)]
    emb = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(vecs)],
        "vec_id long, embedding array<float>",
    )
    exact = {
        (r["id_a"], r["id_b"])
        for r in embedding_neardup_pairs(emb, 0.95, exact=True).collect()
    }
    bucketed = {
        (r["id_a"], r["id_b"])
        for r in embedding_neardup_pairs(emb, 0.95, n_planes=4, n_dims=16).collect()
    }
    assert (0, 1) in exact
    # bucketed is a subset of exact (it can only lose candidates, never
    # invent pairs), and near-identical vectors share every bucket
    assert bucketed <= exact
    assert (0, 1) in bucketed


def test_ivf_topk_self_hit_and_order(spark):
    import hashlib

    from text_extract_api_spark.functions.similarity import ivf_topk

    def detvec(i):
        h = hashlib.md5(str(i).encode()).digest()
        return [(b - 127.5) / 128.0 for b in h]

    emb = spark.createDataFrame(
        [(i, [float(x) for x in detvec(i)]) for i in range(40)],
        "vec_id long, embedding array<float>",
    )
    rows = ivf_topk(emb, query_id=0, k=5, centroid_stride=10, n_probe=2).collect()
    # the query vector lives in its own probe cell → rank 1, cosine 1.0
    assert rows[0]["vec_id"] == 0 and abs(rows[0]["score"] - 1.0) < 1e-6
    scores = [r["score"] for r in rows]
    assert scores == sorted(scores, reverse=True)


def test_media_stub_values_match_python(spark):
    import hashlib

    from text_extract_api_spark.extractors.media import decode_image, image_metadata

    rows = [
        ("m://1", 1, b"hello world, this is page one"),
        ("m://1", 2, b"page two"),
        ("m://2", 1, b""),
    ]
    df = spark.createDataFrame(rows, "media_ref string, page_no int, payload binary")
    meta = {(r["media_ref"], r["page_no"]): r for r in image_metadata(df).collect()}
    assert len(meta) == 3
    for ref, page, payload in rows:
        r = meta[(ref, page)]
        w, h, mode = decode_image(payload)
        assert (r["byte_len"], r["width"], r["height"], r["mode"]) == (
            len(payload), w, h, mode,
        )
        assert r["payload_md5"] == hashlib.md5(payload).hexdigest()


def test_embedding_neardup_multiband_recall(spark):
    """Multi-band OR candidates ⊇ any single band's candidates (recall is
    monotone in n_bands), and n_dims is required on the bucketed path."""
    import hashlib

    import pytest

    from text_extract_api_spark.functions.similarity import embedding_neardup_pairs

    def detvec(i):
        h = hashlib.md5(str(i).encode()).digest()
        return [(b - 127.5) / 128.0 for b in h]

    vecs = [detvec(i) for i in range(30)]
    vecs.append([x + 0.004 for x in vecs[5]])  # near-dup of id 5 → id 30
    emb = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(vecs)],
        "vec_id long, embedding array<float>",
    )
    one_band = {
        (r["id_a"], r["id_b"])
        for r in embedding_neardup_pairs(emb, 0.9, n_planes=4, n_dims=16, n_bands=1).collect()
    }
    two_band = {
        (r["id_a"], r["id_b"])
        for r in embedding_neardup_pairs(emb, 0.9, n_planes=4, n_dims=16, n_bands=2).collect()
    }
    assert one_band <= two_band
    assert (5, 30) in two_band

    with pytest.raises(ValueError, match="n_dims is required"):
        embedding_neardup_pairs(emb, 0.9, n_planes=4)


def test_lsh_topk_stored_prunes_partitions(spark, tmp_path):
    """The stored-bucket ANN path must prune at the partition level: probes
    appear in PartitionFilters and non-probed buckets are never read."""
    import hashlib

    from text_extract_api_spark.functions.similarity import (
        build_bucket_store,
        lsh_topk,
        lsh_topk_stored,
    )

    def detvec(i):
        h = hashlib.md5(str(i).encode()).digest()
        return [(b - 127.5) / 128.0 for b in h]

    vecs = [detvec(i) for i in range(40)]
    emb = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(vecs)],
        "vec_id long, embedding array<float>",
    )
    store = str(tmp_path / "bucket_store")
    build_bucket_store(emb, store, n_planes=4, n_dims=16)

    q = vecs[0]
    stored = lsh_topk_stored(spark, store, q, k=5, n_planes=4)
    live = lsh_topk(emb, q, k=5, n_planes=4)
    assert [tuple(r) for r in stored.collect()] == [tuple(r) for r in live.collect()]

    plan = stored._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [bucket" in plan and "bucket" in plan


def test_pii_chained_priority_overlap(spark):
    """The ADVICE r1 overlap case: chained replaces apply SSN before the
    short-phone rule, so a phone match can never eat half an SSN. A single
    alternation (leftmost-position-first) would yield 'ANONYMIZED-89-1234'
    and leak '89-1234'."""
    from text_extract_api_spark.extractors.pii import anonymize_col, anonymize_sql

    df = spark.createDataFrame([("123-4567-89-1234",)], "t string")
    got = df.select(anonymize_col(F.col("t")).alias("a")).collect()[0]["a"]
    assert got == "123-4ANONYMIZED"

    import duckdb

    duck = duckdb.sql(
        "SELECT " + anonymize_sql("'123-4567-89-1234'") + " AS a"
    ).fetchone()[0]
    assert duck == got  # oracle implements the same chained semantics


def test_banded_neardup_first_match_dedup_is_exact(spark):
    """The first-matching-band predicate must emit each colliding pair
    exactly once — identical pair set to a distinct-based reference."""
    import hashlib

    from text_extract_api_spark.functions.similarity import (
        banded_bucket_keys,
        embedding_neardup_pairs,
    )

    def detvec(i):
        h = hashlib.md5(str(i).encode()).digest()
        return [(b - 127.5) / 128.0 for b in h]

    # clusters of very similar vectors → many pairs collide in BOTH bands
    vecs = []
    for i in range(12):
        base = detvec(i)
        vecs.append(base)
        vecs.append([x + 0.002 for x in base])
        vecs.append([x - 0.002 for x in base])
    emb = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(vecs)],
        "vec_id long, embedding array<float>",
    )
    got = (
        embedding_neardup_pairs(emb, 0.0, n_planes=3, n_dims=16, n_bands=3)
        .groupBy("id_a", "id_b")
        .count()
        .filter(F.col("count") > 1)
        .count()
    )
    assert got == 0  # no pair emitted twice

    # reference pair set via explode + distinct
    bucketed = emb.withColumn(
        "bands", banded_bucket_keys("embedding", 3, 3, 16)
    ).select(F.col("vec_id").alias("id"), F.posexplode("bands").alias("band", "key"))
    a = bucketed.select("band", "key", F.col("id").alias("id_a"))
    b = bucketed.select("band", "key", F.col("id").alias("id_b"))
    ref = {
        (r["id_a"], r["id_b"])
        for r in a.join(b, ["band", "key"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
        .collect()
    }
    mine = {
        (r["id_a"], r["id_b"])
        for r in embedding_neardup_pairs(
            emb, -1.0, n_planes=3, n_dims=16, n_bands=3
        ).collect()
    }
    assert mine == ref


def test_ivf_stored_matches_live(spark, tmp_path):
    """The prebuilt IVF store must return exactly the live ivf_topk results
    (assignment + probe selection are deterministic), with a cell-pruned
    scan."""
    import hashlib

    from text_extract_api_spark.functions.similarity import (
        build_ivf_store,
        ivf_topk,
        ivf_topk_stored,
    )

    def detvec(i):
        h = hashlib.md5(str(i).encode()).digest()
        return [(b - 127.5) / 128.0 for b in h]

    vecs = [detvec(i) for i in range(60)]
    emb = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(vecs)],
        "vec_id long, embedding array<float>",
    )
    store = str(tmp_path / "ivf")
    build_ivf_store(emb, store, centroid_stride=10)
    stored = ivf_topk_stored(spark, store, vecs[0], k=5, n_probe=2)
    live = ivf_topk(emb, query_id=0, k=5, centroid_stride=10, n_probe=2)
    assert [tuple(r) for r in stored.collect()] == [tuple(r) for r in live.collect()]
    plan = stored._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [cent_id" in plan


def test_ivf_append_compact_matches_full_build_and_drift_flags(spark, tmp_path):
    """VERDICT r4 #7: (build on A) + append(B) + compact must probe
    identically to a one-shot assignment of A∪B under A's codebook; the
    drift check stays quiet for same-distribution batches and flags a
    shifted batch for retrain."""
    import hashlib

    from text_extract_api_spark.functions.similarity import (
        append_ivf_store,
        build_ivf_store,
        compact_ivf_store,
        ivf_drift_check,
        ivf_topk_stored,
    )

    def detvec(i):
        h = hashlib.md5(str(i).encode()).digest()
        return [(b - 127.5) / 128.0 for b in h]

    all_rows = [(i, [float(x) for x in detvec(i)]) for i in range(80)]
    emb = spark.createDataFrame(all_rows, "vec_id long, embedding array<float>")
    base = emb.filter(F.col("vec_id") % 4 != 3)
    batch = emb.filter(F.col("vec_id") % 4 == 3)

    # reference: full one-shot build with the SAME codebook (stride 10 →
    # centroid ids ≡ 0 mod 10, disjoint from the batch residue class 3)
    ref_store = str(tmp_path / "ivf_ref")
    build_ivf_store(emb, ref_store, centroid_stride=10)
    # incremental: build on base, append the batch, compact
    inc_store = str(tmp_path / "ivf_inc")
    build_ivf_store(base, inc_store, centroid_stride=10)
    # centroids must be identical before comparing probes
    assert sorted(
        r["cent_id"] for r in spark.read.parquet(f"{inc_store}/centroids").collect()
    ) == sorted(
        r["cent_id"] for r in spark.read.parquet(f"{ref_store}/centroids").collect()
    )
    append_ivf_store(spark, batch, inc_store)
    compact_ivf_store(spark, inc_store)

    q = [float(x) for x in detvec(0)]
    got = [tuple(r) for r in ivf_topk_stored(spark, inc_store, q, k=7, n_probe=2).collect()]
    want = [tuple(r) for r in ivf_topk_stored(spark, ref_store, q, k=7, n_probe=2).collect()]
    assert got == want
    # appended rows all present exactly once after compaction
    assert spark.read.parquet(f"{inc_store}/assigned").count() == 80
    # compaction really folded the layout: ≤1 data file per cell
    import glob as _glob
    import os as _os

    for cell_dir in _glob.glob(f"{inc_store}/assigned/cent_id=*"):
        files = [f for f in _os.listdir(cell_dir) if f.endswith(".parquet")]
        assert len(files) <= 1, cell_dir

    # drift: a batch from the same generator is quiet…
    same = spark.createDataFrame(
        [(1000 + i, [float(x) for x in detvec(i)]) for i in range(40)],
        "vec_id long, embedding array<float>",
    )
    quiet = ivf_drift_check(spark, inc_store, same)
    assert quiet["needs_retrain"] is False
    # …a collapsed batch (every vector identical → one cell) is flagged
    one = [float(x) for x in detvec(7)]
    shifted = spark.createDataFrame(
        [(2000 + i, one) for i in range(40)],
        "vec_id long, embedding array<float>",
    )
    flagged = ivf_drift_check(spark, inc_store, shifted)
    assert flagged["needs_retrain"] is True
    assert flagged["kl_sym"] > quiet["kl_sym"]


def test_stratified_sample_deterministic_and_stratified(spark, sf_dir):
    """Hash-threshold sampling: identical output across reruns/partitionings,
    per-stratum rates near the configured fractions, decisions row-stable."""
    from text_extract_api_spark.functions.sampling import stratified_sample

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    fracs = {"en": 0.5, "de": 0.25}
    a = {r["doc_id"] for r in stratified_sample(docs, fracs).collect()}
    b = {
        r["doc_id"]
        for r in stratified_sample(docs.repartition(17), fracs).collect()
    }
    assert a == b  # partitioning-invariant
    by_lang = {
        r["lang"]: r["n"]
        for r in stratified_sample(docs, fracs)
        .groupBy("lang")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    totals = {
        r["lang"]: r["n"]
        for r in docs.groupBy("lang").agg(F.count("*").alias("n")).collect()
    }
    # default fraction 0 → unlisted strata fully dropped
    assert set(by_lang) <= set(fracs)
    # observed rate within a loose binomial band of the target
    for lang, frac in fracs.items():
        if totals.get(lang, 0) >= 50:
            rate = by_lang.get(lang, 0) / totals[lang]
            assert abs(rate - frac) < 0.2


def test_mix_weights_hits_target_shares(spark, sf_dir):
    """weight × tokens recovers the target mix (up to ×10⁴ truncation)."""
    from text_extract_api_spark.functions.sampling import mix_weights

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    target = {"en": 500000, "de": 500000}
    rows = mix_weights(
        docs, target, F.col("n_chars").cast("bigint")
    ).collect()
    by = {r["lang"]: r for r in rows}
    assert by["es"]["weight_x10k"] == 0  # untargeted stratum
    total = sum(r["total_tokens"] for r in rows)
    for lang, ppm in target.items():
        w = by[lang]["weight_x10k"] / 10000.0
        achieved = w * by[lang]["total_tokens"] / total
        assert abs(achieved - ppm / 1e6) < 0.001


def test_bpe_train_merges_textbook_example(spark):
    """Sennrich et al.'s classic low/lower family: merges and counts are
    hand-checkable, including two lexicographic tie-breaks."""
    from text_extract_api_spark.functions.textstats import bpe_train_merges

    docs = spark.createDataFrame(
        [(0, "low low low lower lowest"), (1, "low lower newer newer"), (2, "")],
        "doc_id long, text string",
    )
    got = [
        (r.merge_rank, r.merge_left, r.merge_right, r.pair_count)
        for r in bpe_train_merges(docs, n_merges=5).orderBy("merge_rank").collect()
    ]
    assert got == [
        (1, "l", "o", 7),        # ties (l,o)=(o,w)=7 -> lexicographic
        (2, "lo", "w", 7),
        (3, "e", "r", 4),        # ties (e,r)=(low,</w>)=4 -> 'e' < 'low'
        (4, "er", "</w>", 4),
        (5, "low", "</w>", 4),
    ]


def test_bpe_merge_application_is_nonoverlapping_left_to_right(spark):
    """[a,a,a,a] must merge to [aa,aa] and [a,a,a] to [aa,a] — the
    boundary-delimited replace reproduces BPE's scan order; a symbol whose
    TAIL equals the merge left side must not match across boundaries."""
    from text_extract_api_spark.functions.textstats import bpe_train_merges

    docs = spark.createDataFrame(
        [(0, "aaaa aaaa aaa")], "doc_id long, text string"
    )
    got = [
        (r.merge_rank, r.merge_left, r.merge_right, r.pair_count)
        for r in bpe_train_merges(docs, n_merges=2).orderBy("merge_rank").collect()
    ]
    # round 1: (a,a) count = 3+3+2 = 8
    assert got[0] == (1, "a", "a", 8)
    # round 2 on [aa,aa,</w>]x2 + [aa,a,</w>]: (aa,aa)=2, (aa,a)=1,
    # (aa,</w>)=2, (a,</w>)=1 -> tie (aa,aa) vs (aa,</w>) -> '</w>' < 'aa'
    assert got[1] == (2, "aa", "</w>", 2)


def test_lsh_calibrator_matches_engine_default_and_scurve():
    from text_extract_api_spark.functions.dedup import (
        LSH_BANDS,
        LSH_ROWS,
        MINHASH_SEEDS,
        lsh_collision_prob,
        lsh_params_for_threshold,
    )

    # the engine's documented t=0.6 operating point IS what the calibrator
    # picks from the default permutation budget
    assert lsh_params_for_threshold(0.6, MINHASH_SEEDS) == (LSH_BANDS, LSH_ROWS)
    # every answer is an exact factorization of the budget
    for t in (0.05, 0.3, 0.5, 0.7, 0.9, 0.99):
        b, r = lsh_params_for_threshold(t, 24)
        assert b * r == 24 and b >= 1 and r >= 1
    # S-curve sanity: steeper separation around the inflection than at the
    # tails, and monotone in s
    # recall-leaning defaults: strong candidate recall AT the threshold
    # once the budget allows it, while staying near-zero far below it
    b, r = lsh_params_for_threshold(0.8, 128)
    assert (b, r) == (16, 8)
    lo, mid, hi = (lsh_collision_prob(s, b, r) for s in (0.4, 0.8, 0.95))
    assert lo < 0.1 and mid > 0.9 and hi > 0.99
    import pytest

    with pytest.raises(ValueError):
        lsh_params_for_threshold(1.0)
