"""Selection and sampling tests: DSIR importance, CCNet buckets, BPE, KL
drift, the quality classifier, soft sampling and token quotas."""
from __future__ import annotations

import hashlib

from pyspark.sql import functions as F

from text_extract_api_spark.functions.quality import ccnet_buckets
from text_extract_api_spark.functions.selection import dsir_scores


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string, source string")


def test_dsir_orders_target_like_above_raw_like(spark):
    # Target vocabulary is disjoint from raw vocabulary, so a raw doc written
    # in target words must outscore a raw doc written in raw words, and the
    # mixed doc must land between them.
    target = [(i, "alpha beta gamma delta", "tgt") for i in range(4)]
    raw = [
        (10, "alpha beta gamma delta", "raw"),  # pure target-like
        (11, "alpha beta noise noise", "raw"),  # mixed
        (12, "noise words only here", "raw"),  # pure raw-like
        (13, "   ", "raw"),  # token-less
    ]
    out = {
        r["doc_id"]: r
        for r in dsir_scores(
            _docs(spark, target + raw), F.col("source") == "tgt"
        ).collect()
    }
    assert out[10]["dsir_score"] > out[11]["dsir_score"] > out[12]["dsir_score"]
    # target docs are never selected, whatever they score
    assert all(not out[i]["selected"] for i in range(4))
    assert all(out[i]["is_target"] for i in range(4))
    # τ=0: more-target-like-than-raw-like ⇒ selected
    assert out[10]["selected"] is True
    assert out[12]["selected"] is False
    # token-less: score 0.0, never selected, still present in the output
    assert out[13]["n_tokens"] == 0
    assert out[13]["dsir_score"] == 0.0
    assert out[13]["selected"] is False
    assert len(out) == 8


def test_ccnet_buckets_terciles_and_empty(spark):
    # 9 docs in one lang: repeated common words = low perplexity (head);
    # distinct rare words = high (tail). Plus an empty doc -> 'empty'.
    rows = []
    for i in range(3):
        rows.append((i, "the the the the", "en"))  # most typical
    for i in range(3, 6):
        rows.append((i, "the cat sat", "en"))
    for i in range(6, 9):
        rows.append((i, f"zxq{i} wvu{i} rst{i}", "en"))  # all-singleton words
    rows.append((9, " ", "en"))
    docs = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    out = {r["doc_id"]: r for r in ccnet_buckets(docs).collect()}
    assert len(out) == 10
    assert out[9]["ppl_bucket"] == "empty"
    assert {out[i]["ppl_bucket"] for i in range(3)} == {"head"}
    assert {out[i]["ppl_bucket"] for i in range(6, 9)} == {"tail"}
    # every non-empty doc got a real bucket
    assert all(
        out[i]["ppl_bucket"] in ("head", "middle", "tail") for i in range(9)
    )


def test_bpe_apply_hand_cases(spark):
    from text_extract_api_spark.functions.textstats import bpe_apply

    docs = spark.createDataFrame(
        [(1, "aa ab"), (2, "aa"), (3, "  ")], "doc_id long, text string"
    )
    # rank 1 merges (a,a); rank 2 cascades onto its output: (aa,</w>)
    out = {
        r["doc_id"]: r
        for r in bpe_apply(docs, merges=[("a", "a"), ("aa", "</w>")]).collect()
    }
    # "aa": [a,a,</w>] -> [aa,</w>] -> [aa</w>] = 1 token
    # "ab": [a,b,</w>] untouched = 3 tokens
    assert out[1]["n_words"] == 2 and out[1]["n_bpe_tokens"] == 4
    assert out[2]["n_words"] == 1 and out[2]["n_bpe_tokens"] == 1
    # whitespace-only doc: zero words, zero tokens, md5 of empty stream
    assert out[3]["n_words"] == 0 and out[3]["n_bpe_tokens"] == 0
    assert out[3]["enc_md5"] == hashlib.md5(b"").hexdigest()


def test_bpe_apply_trained_merges_reduce_token_count(spark):
    from text_extract_api_spark.functions.textstats import bpe_apply

    docs = spark.createDataFrame(
        [(i, "low lower lowest") for i in range(4)], "doc_id long, text string"
    )
    with_merges = bpe_apply(docs)  # trains on the corpus itself
    without = bpe_apply(docs, merges=[])
    n_with = sum(r["n_bpe_tokens"] for r in with_merges.collect())
    n_without = sum(r["n_bpe_tokens"] for r in without.collect())
    assert n_with < n_without


def test_kl_drift_zero_for_identical_snapshots(spark):
    from text_extract_api_spark.functions.selection import kl_drift

    # Even/odd halves carry the identical text distribution -> drift ~ 0
    # (exactly 0 up to the micro-nat quantization: counts per bucket equal).
    rows = [(i, "alpha beta gamma", "s") for i in range(10)]
    docs = spark.createDataFrame(rows, "doc_id long, text string, source string")
    [r] = kl_drift(docs, F.col("doc_id") % 2 == 0).collect()
    assert r["a_tokens"] == r["b_tokens"] == 15
    assert r["kl_sym"] == 0.0


def test_kl_drift_positive_for_disjoint_vocab(spark):
    from text_extract_api_spark.functions.selection import kl_drift

    rows = [(i, "alpha beta gamma", "s") for i in range(0, 10, 2)]
    rows += [(i, "zeta eta theta", "s") for i in range(1, 10, 2)]
    docs = spark.createDataFrame(rows, "doc_id long, text string, source string")
    [r] = kl_drift(docs, F.col("doc_id") % 2 == 0).collect()
    assert r["kl_ab"] > 0 and r["kl_ba"] > 0
    assert abs(r["kl_sym"] - round(r["kl_ab"] + r["kl_ba"], 6)) < 1e-9


def test_quality_classifier_learns_separable_labels(spark):
    from text_extract_api_spark.functions.classifier import (
        train_quality_classifier,
    )

    # Disjoint vocabularies -> linearly separable in the hashed space
    # (1024 buckets, 6 distinct words: collisions effectively impossible).
    rows = [(i, "good clean prose here", "s") for i in range(10)]
    rows += [(i + 10, "spam junk noise", "s") for i in range(10)]
    rows.append((99, "  ", "s"))  # token-less doc: scored by the bias alone
    docs = spark.createDataFrame(rows, "doc_id long, text string, source string")
    out = {
        r["doc_id"]: r
        for r in train_quality_classifier(
            docs, F.col("doc_id") < 10, n_rounds=6, lr=8.0
        ).collect()
    }
    assert len(out) == 21
    assert all(out[i]["predicted"] is True for i in range(10))
    assert all(out[i + 10]["predicted"] is False for i in range(10))
    # probabilities ordered with the labels, not just thresholded
    assert min(out[i]["prob"] for i in range(10)) > max(
        out[i + 10]["prob"] for i in range(10)
    )
    # the token-less doc gets the bias-only prior (more 0s than 1s -> < 0.5)
    assert out[99]["prob"] < 0.5


def test_classifier_gradient_sums_cross_bigint_bound(spark):
    """The gradient accumulator must survive sums past 2^63 (the silent
    BIGINT wrap the r4 verdict flagged at ~9e6 docs): feed synthetically
    scaled residuals whose Σ r_u·x_u exceeds 2^63 and require the exact
    decimal value back. 11 rows of r_u·x_u = (1e6)² and one comparison
    row prove both legs (weight bucket and bias bucket −1) are exact."""
    from text_extract_api_spark.functions.classifier import _gradient_sums

    r_u = 10**12  # synthetically scaled residual (normal ceiling is 1e6)
    x_u = 10**7
    n = 1100  # n * r_u * x_u = 1.1e22 > 2^63 ≈ 9.22e18
    x = spark.createDataFrame(
        [(i, 0, x_u) for i in range(n)], "doc_id long, bucket bigint, x_u bigint"
    )
    r = spark.createDataFrame(
        [(i, r_u) for i in range(n)], "doc_id long, r_u bigint"
    )
    got = {int(row["bucket"]): int(row["g_u"]) for row in _gradient_sums(x, r).collect()}
    assert got[0] == n * r_u * x_u == 11 * 10**21  # exact, not wrapped
    assert got[-1] == n * r_u  # bias leg: Σ r_u, also exact


def test_soft_sample_extremes_and_monotonicity(spark):
    from pyspark.sql import functions as F

    from text_extract_api_spark.functions.sampling import soft_sample

    df = spark.createDataFrame(
        [(i, i / 100.0) for i in range(100)], "doc_id bigint, p double"
    )
    assert soft_sample(df.withColumn("p", F.lit(0.0)), F.col("p")).count() == 0
    assert soft_sample(df.withColumn("p", F.lit(1.0)), F.col("p")).count() == 100
    # out-of-range scores clamp instead of corrupting the threshold
    assert soft_sample(df.withColumn("p", F.lit(7.5)), F.col("p")).count() == 100
    assert soft_sample(df.withColumn("p", F.lit(-3.0)), F.col("p")).count() == 0
    # monotone in p for fixed keys: raising every score only ADDS rows
    lo = {r["doc_id"] for r in soft_sample(df, F.col("p")).collect()}
    hi = {
        r["doc_id"]
        for r in soft_sample(
            df, F.least(F.lit(1.0), F.col("p") + 0.3)
        ).collect()
    }
    assert lo <= hi and len(lo) < len(hi)


def test_token_quota_two_phase_matches_direct_window(spark):
    from pyspark.sql import Window, functions as F

    from text_extract_api_spark.functions.sampling import (
        hash_u32_col,
        token_quota_per_stratum,
    )

    # deliberately skewed: one stratum holds 90% of rows; token counts
    # vary so budget boundaries land mid-stratum. Zero-token docs present.
    rows = [(i, "hot" if i % 10 else "cold", (i * 7) % 13) for i in range(400)]
    df = spark.createDataFrame(rows, "doc_id bigint, source string, n_tok int")
    budget = 150
    got = token_quota_per_stratum(
        df, budget=budget, tokens=F.col("n_tok"), n_salts=8
    )
    # direct (skew-unsafe) reference: one global window per stratum
    u = hash_u32_col(F.col("doc_id"), "tquota")
    w = (
        Window.partitionBy("source")
        .orderBy(u, "doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    ref = (
        df.filter(F.col("n_tok") > 0)
        .withColumn("cum_tokens", F.sum(F.col("n_tok").cast("bigint")).over(w))
        .filter(F.col("cum_tokens") <= budget)
        .select("doc_id", "source", F.col("n_tok").cast("bigint").alias("n_tokens"), "cum_tokens")
    )
    a = {tuple(r) for r in got.collect()}
    b = {tuple(r) for r in ref.collect()}
    assert a == b and a  # identical kept rows AND identical running sums
    # every stratum respects its budget
    for r in got.groupBy("source").agg(F.max("cum_tokens").alias("m")).collect():
        assert r["m"] <= budget
