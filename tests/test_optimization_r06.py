"""Round-6 optimization equivalence tests: every operator whose
INTERNALS changed this round proves bit-equality against its previous
(or alternate) formulation on a shared fixture — the optimization-round
contract that restructuring never changes what an operator computes."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from chainalytic_framework_spark.operators.bucketing import url_bucket
from chainalytic_framework_spark.operators.fold import prepare_observations
from chainalytic_framework_spark.operators.registry import (
    downsample_with_spec,
    downsample_with_spec_clustered,
    get_metric_set,
    rollup_with_spec,
    rollup_with_spec_clustered,
)


def with_layout_columns(tier_df):
    """The tier-table write layout the clustered builders fuse in."""
    return (tier_df.withColumn("bucket_day", F.to_date("bucket_start"))
            .withColumn("url_bucket", url_bucket("url")))


def _sorted_rows(df, cols=None):
    cols = cols or df.columns
    return [tuple(r) for r in df.select(*cols).orderBy(*cols).collect()]


@pytest.fixture(scope="module")
def obs(spark, pages):
    o = prepare_observations(pages).cache()
    o.count()
    return o


def test_rollup_clustered_matches_unfused(spark, obs):
    ms = get_metric_set("default")
    old = with_layout_columns(rollup_with_spec(obs, ms, "1m"))
    new = rollup_with_spec_clustered(obs, ms, "1m", 8)
    assert old.columns == new.columns
    assert _sorted_rows(old) == _sorted_rows(new)
    # the fused plan pays exactly ONE exchange (the point of the fusion)
    plan = new._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange hashpartitioning") == 1


def test_downsample_clustered_matches_unfused(spark, obs):
    ms = get_metric_set("default")
    m1 = with_layout_columns(rollup_with_spec(obs, ms, "1m"))
    src = m1.drop("bucket_day", "url_bucket")
    old = with_layout_columns(downsample_with_spec(src, ms, "1h"))
    new = downsample_with_spec_clustered(src, ms, "1h", 8)
    assert old.columns == new.columns
    assert _sorted_rows(old) == _sorted_rows(new)


def test_motif_gram_kernel_matches_jvm_fallback(spark):
    from chainalytic_framework_spark.operators.sax import motif_verify_pairs

    words = spark.createDataFrame(
        [(1, "ab"), (2, "ab"), (3, "ab"), (4, "cd"), (5, "cd"), (6, "ee")],
        "k long, word string",
    )
    # ragged, partially-aligned series incl. negative values and a key
    # (6) with no overlap partner and a key (7) absent from words
    rows = []
    for k, offs in [(1, range(0, 8)), (2, range(2, 10)), (3, range(0, 10, 2)),
                    (4, range(5, 9)), (5, range(0, 6)), (6, range(0, 4)),
                    (7, range(0, 9))]:
        for t in offs:
            rows.append((k, t * 3600, (k * 7 + t * t) % 13 - 6))
    tier = spark.createDataFrame(rows, "k long, t long, v long")
    arrow = motif_verify_pairs(words, tier, ["k"], "t", "v", arrow_verify=True)
    jvm = motif_verify_pairs(words, tier, ["k"], "t", "v", arrow_verify=False)
    assert _sorted_rows(arrow) == _sorted_rows(jvm)
    assert len(_sorted_rows(arrow)) > 0


def test_hampel_chunked_matches_single_window(spark):
    from chainalytic_framework_spark.operators.rolling import hampel_despike

    rows = [("a", t, t, ((t * 31) % 17 - 8) * 10) for t in range(200)]
    rows += [("b", t, 1000 + t, ((t * 13) % 11 - 5) * 7) for t in range(35)]
    df = spark.createDataFrame(rows, "key string, t long, id long, v long")
    single = hampel_despike(df, ["key"], "t", "id", "v", half_width=3, k=4,
                            chunk_rows=None)
    chunked = hampel_despike(df, ["key"], "t", "id", "v", half_width=3, k=4,
                             chunk_rows=16)
    assert _sorted_rows(single) == _sorted_rows(chunked)


def test_ngram_jaccard_shared_shingles_match(spark):
    from chainalytic_framework_spark.operators import dedup as dd

    docs = spark.createDataFrame(
        [(1, "a b c d e f"), (2, "a b c d x y"), (3, "q w e r t y"),
         (4, "a b c d e f"), (5, "zz")],
        "doc_id long, text string",
    )
    sigs = dd.minhash_signatures(docs)
    pairs = dd.lsh_candidate_pairs(sigs)
    plain = dd.ngram_jaccard_pairs(docs, pairs)
    sh = dd.shingle_hashes(docs).persist()
    sh.count()
    shared = dd.ngram_jaccard_pairs(docs, pairs, sh_hashes=sh)
    sigs2 = dd.minhash_signatures(docs, sh_hashes=sh)
    assert _sorted_rows(plain) == _sorted_rows(shared)
    assert _sorted_rows(sigs) == _sorted_rows(sigs2)
    sh.unpersist()


def test_span_positions_explode_first_shape(spark):
    """span_positions emits identical (id, pos, span) rows for the
    corner cases the transform-lambda form handled: doc shorter than
    w (nothing), doc exactly w (one span), repeated tokens."""
    from chainalytic_framework_spark.operators.dedup import span_positions

    docs = spark.createDataFrame(
        [(1, "a b c"), (2, "a b c d"), (3, "x x x x x"), (4, "")],
        "doc_id long, text string",
    )
    got = _sorted_rows(span_positions(docs, w=4))
    assert got == [
        (2, 1, "a b c d"),
        (3, 1, "x x x x"),
        (3, 2, "x x x x"),
    ]
