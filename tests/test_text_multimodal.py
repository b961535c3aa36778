"""Text-analysis functions."""

from __future__ import annotations

from chainalytic_framework_spark.functions import text as tx


def test_quality_features_values(spark):
    df = spark.createDataFrame(
        [(1, "the quick brown fox"), (2, "a b"), (3, "xxxxxxxxxxxxxxxxxxxxxxxxxxxxxx")],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in tx.quality_features(df).collect()}
    assert out[1]["n_tokens"] == 4
    assert out[1]["stopword_ratio"] == 0.25  # 'the' of 4 tokens
    assert out[2]["n_tokens"] == 2
    assert out[3]["mean_word_len"] == 30.0


def test_quality_filter_drops_junk(spark):
    df = spark.createDataFrame(
        [(1, "a good normal document with several words"),
         (2, "x"),
         (3, "!!!!!!!!!! ?????? ......")],
        "doc_id long, text string",
    )
    kept = [r["doc_id"] for r in tx.quality_filter(df).select("doc_id").collect()]
    assert kept == [1]


def test_lang_id_markers(spark):
    df = spark.createDataFrame(
        [(1, "the cat and the dog of york"),
         (2, "der hund und die katze"),
         (3, "zzz qqq www")],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r["lang_pred"] for r in tx.lang_id_heuristic(df).collect()}
    assert out[1] == "en"
    assert out[2] == "de"
    assert out[3] is None


def test_fingerprints_deterministic(spark):
    df = spark.createDataFrame([(1, "hello world " * 30)], "doc_id long, text string")
    a = df.select(tx.fingerprint64("text").alias("f"), tx.rolling_fingerprint("text").alias("r")).first()
    b = df.select(tx.fingerprint64("text").alias("f"), tx.rolling_fingerprint("text").alias("r")).first()
    assert a == b


def test_token_repetition_exact_counts(spark):
    from chainalytic_framework_spark.functions.text import token_repetition

    docs = spark.createDataFrame(
        [
            (1, "a a a b"),          # 4 tokens, 2 distinct, top=3
            (2, "x y z"),            # no repetition
            (3, "w  w"),             # double space: empty token dropped
        ],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r.asDict() for r in token_repetition(docs).collect()}
    assert got[1]["n_tokens"] == 4 and got[1]["n_distinct_tokens"] == 2
    assert got[1]["top_token_count"] == 3
    assert got[1]["dup_token_frac_x1e4"] == 5000       # 2/4
    assert got[1]["top_token_share_x1e4"] == 7500      # 3/4
    assert got[2]["dup_token_frac_x1e4"] == 0
    assert got[3]["n_tokens"] == 2 and got[3]["top_token_count"] == 2


def test_ngram_counts_ungrouped_topk_take_ordered(spark):
    """Ungrouped top-k plans as TakeOrderedAndProject (per-partition
    heaps, never a global sort of the vocabulary) and matches the
    brute-force answer with the deterministic (c DESC, ngram) order."""
    df = spark.createDataFrame(
        [(1, "a b a b c d"), (2, "a b c d c d"), (3, "a b x y")],
        "doc_id long, text string",
    )
    out = tx.ngram_counts(df, n=2, top_k=3)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan
    rows = [(r["ngram"], r["c"]) for r in out.collect()]
    full = tx.ngram_counts(df, n=2).collect()
    want = sorted(((r["ngram"], r["c"]) for r in full),
                  key=lambda t: (-t[1], t[0]))[:3]
    assert sorted(rows, key=lambda t: (-t[1], t[0])) == want


# --- distinctive_terms (log-odds fightin' words) -----------------------------


def test_distinctive_terms_separates_group_vocab(spark):
    rows = (
        [(i, "alpha shared filler", "en") for i in range(20)]
        + [(100 + i, "omega shared filler", "fr") for i in range(20)]
    )
    df = spark.createDataFrame(rows, ["doc_id", "text", "lang"])
    from chainalytic_framework_spark.functions.text import distinctive_terms

    out = distinctive_terms(df, "lang", k=2, min_len=4)
    top = {r.lang: r.term for r in out.where("c > 0").collect()
           if r.term in ("alpha", "omega")}
    assert top == {"en": "alpha", "fr": "omega"}
    # the group-exclusive term must outscore the shared ones
    scores = {(r.lang, r.term): r.lor_x1e4 for r in out.collect()}
    assert scores[("en", "alpha")] > scores.get(("en", "shared"), -10**9)
    assert scores[("fr", "omega")] > scores.get(("fr", "shared"), -10**9)


def test_distinctive_terms_shared_vocab_near_zero(spark):
    # identical distributions: every term's log-odds ~ 0 (|lor| small)
    rows = [(i, "same same word list", "en") for i in range(10)] + [
        (50 + i, "same same word list", "fr") for i in range(10)
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text", "lang"])
    from chainalytic_framework_spark.functions.text import distinctive_terms

    out = distinctive_terms(df, "lang", k=10, min_len=4).collect()
    assert all(abs(r.lor_x1e4) < 2000 for r in out)


def test_distinctive_terms_topk_bounded_and_deterministic(spark):
    rows = [(i, f"tok{i % 37} common", "en") for i in range(100)] + [
        (200, "common", "fr")
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text", "lang"])
    from chainalytic_framework_spark.functions.text import distinctive_terms

    a = distinctive_terms(df, "lang", k=5, min_len=3).collect()
    b = distinctive_terms(df.repartition(16), "lang", k=5, min_len=3).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))
    from collections import Counter

    per = Counter(r.lang for r in a)
    assert all(v <= 5 for v in per.values())


def test_vocab_overlap_exact_sets(spark):
    from chainalytic_framework_spark.functions.text import vocab_overlap_pairs

    rows = [
        (1, "apple banana cherry", "s1"),
        (2, "banana cherry dates", "s2"),
        (3, "zebra yonder", "s3"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text", "source"])
    out = {(r.g_a, r.g_b): r for r in
           vocab_overlap_pairs(df, "source", min_len=1).collect()}
    r12 = out[("s1", "s2")]
    # V1={apple,banana,cherry} V2={banana,cherry,dates}: inter 2, union 4
    assert (r12.n_a, r12.n_b, r12.n_common, r12.jaccard_x1e4) == (3, 3, 2, 5000)
    assert ("s1", "s3") not in out  # zero intersection -> no row (documented)


def test_vocab_overlap_identical_groups_is_one(spark):
    from chainalytic_framework_spark.functions.text import vocab_overlap_pairs

    rows = [(1, "same words here", "a"), (2, "same words here", "b")]
    df = spark.createDataFrame(rows, ["doc_id", "text", "source"])
    out = vocab_overlap_pairs(df, "source", min_len=1).collect()[0]
    assert out.jaccard_x1e4 == 10000
