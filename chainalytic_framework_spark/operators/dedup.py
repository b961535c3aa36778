"""Deduplication operators for training-data pipelines.

Four families, all expressed as declarative DataFrame plans (JVM-side,
no Python UDFs) so Catalyst owns shuffles and pushdowns:

- exact:        hash-groupBy on a content digest — one shuffle.
- MinHash+LSH:  shingle → minhash signature → band buckets →
                bucket-join for candidate pairs. The scale path: the
                pair join only materializes within-bucket candidates,
                never the n² cross product.
- SimHash:      per-bit majority over token hashes → fingerprint.
                Scale form: 64-bit (two 32-bit halves, ``simhash64``)
                with a Hamming-≤k candidate generator
                (``simhash_hamming_pairs``: band the 64 bits into k+1
                segments; pigeonhole guarantees every ≤k pair shares a
                segment exactly). 16-bit ``simhash`` kept as the compact
                single-column variant.
- n-gram Jaccard: exact verification on candidate pairs via shingle-set
                intersection/union counts.

Cross-engine determinism: the base hash is ``fp32(s) = int(md5(s)[:8],
16)`` — identical in Spark (``conv(substring(md5(x),1,8),16,10)``) and
DuckDB, so every signature is oracle-checkable bit-for-bit. (xxhash64
would be faster JVM-side; fp32 is chosen because verifiability against
an independent engine is worth more here. Swapping the hash is a
one-liner.)

MinHash: h_j(doc) = min over shingles of (a_j * fp32(shingle) + b_j)
mod p, with p = 2^31-1 and fixed odd constants — the classic universal
hash family (Broder 1997).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

MINHASH_P = 2_147_483_647  # 2^31 - 1
N_HASHES = 8
N_BANDS = 4  # 2 signatures per band
SHINGLE_K = 3
SIMHASH_BITS = 16


def _a(j: int) -> int:
    return 2 * j + 1_000_003  # odd multipliers


def _b(j: int) -> int:
    return 7_000_003 * (j + 1) % MINHASH_P


def fp32(col) -> F.Column:
    """Cross-engine-stable 32-bit content hash (md5 prefix)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.conv(F.substring(F.md5(c), 1, 8), 16, 10).cast("long")


def exact_dedup(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Keep the smallest id per exact content; report duplicate counts."""
    return (
        docs.select(F.md5(text_col).alias("fingerprint"), F.col(id_col))
        .groupBy("fingerprint")
        .agg(F.min(id_col).alias("keep_id"), F.count(F.lit(1)).alias("n_dupes"))
    )


def shingles(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id",
             k: int = SHINGLE_K) -> DataFrame:
    """Distinct k-word shingles per doc: tokens → sliding windows —
    all array functions, no explode until the last step."""
    toks = F.split(F.col(text_col), " ", -1)
    # guard short docs: Spark sequence(1, 0) DESCENDS — emit empty instead
    idx = F.when(
        F.size(toks) >= k, F.sequence(F.lit(1), F.size(toks) - (k - 1))
    ).otherwise(F.array().cast("array<int>"))
    sh = F.transform(idx, lambda i: F.concat_ws(" ", F.slice(toks, i, k)))
    return (
        docs.select(F.col(id_col), F.explode(F.array_distinct(sh)).alias("shingle"))
    )


def shingle_hashes(docs: DataFrame, text_col: str = "text",
                   id_col: str = "doc_id", k: int = SHINGLE_K) -> DataFrame:
    """One row per distinct (doc, shingle), carrying ONLY hashes:
    ``_h32`` (the md5-prefix fp32 the minhash family is built on —
    oracle-pinned) and ``_h64`` (xxhash64, the set-intersection join
    key). The shingle STRINGS never leave the scan stage — ~8-12 bytes
    per shingle through every downstream shuffle instead of ~25
    (optimization r06; same 64-bit-hash-keyed convention as
    ``dup_span_stats``, collision odds ~n²/2⁶⁴, gate sf has none).
    Persist this frame when several stages consume it (signatures +
    verify + sizes read it once each instead of re-exploding the
    corpus per subtree)."""
    sh = shingles(docs, text_col, id_col, k)
    return sh.select(
        id_col,
        fp32("shingle").alias("_h32"),
        F.xxhash64("shingle").alias("_h64"),
    )


def minhash_signatures(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id",
                       n_hashes: int = N_HASHES,
                       sh_hashes: DataFrame | None = None) -> DataFrame:
    """One row per doc: minhash_0..minhash_{n-1} columns. Pass a
    (persisted) :func:`shingle_hashes` frame to share the shingle
    explode with other consumers."""
    sh = (shingle_hashes(docs, text_col, id_col)
          if sh_hashes is None else sh_hashes)
    aggs = [
        F.min((F.col("_h32") * _a(j) + _b(j)) % MINHASH_P).alias(f"minhash_{j}")
        for j in range(n_hashes)
    ]
    return sh.groupBy(id_col).agg(*aggs)


def lsh_candidate_pairs(sigs: DataFrame, id_col: str = "doc_id",
                        n_hashes: int = N_HASHES, n_bands: int = N_BANDS) -> DataFrame:
    """Docs sharing any band bucket. Scale path: the self-join is keyed
    on (band, band_key) so only same-bucket docs pair up; with AQE the
    skewed buckets (boilerplate-heavy shingle sets) split automatically."""
    rows = n_hashes // n_bands
    band_cols = []
    for b in range(n_bands):
        parts = [F.col(f"minhash_{b * rows + r}") for r in range(rows)]
        band_cols.append(
            F.struct(F.lit(b).alias("band"), F.concat_ws(":", *[p.cast("string") for p in parts]).alias("key"))
        )
    bands = sigs.select(F.col(id_col), F.explode(F.array(*band_cols)).alias("bk")).select(
        id_col, F.col("bk.band").alias("band"), F.col("bk.key").alias("key")
    )
    left = bands.alias("l")
    right = bands.alias("r")
    pairs = (
        left.join(
            right,
            (F.col("l.band") == F.col("r.band"))
            & (F.col("l.key") == F.col("r.key"))
            & (F.col(f"l.{id_col}") < F.col(f"r.{id_col}")),
        )
        .select(F.col(f"l.{id_col}").alias("id_a"), F.col(f"r.{id_col}").alias("id_b"))
        .distinct()
    )
    return pairs


def minhash_similarity(sigs: DataFrame, pairs: DataFrame, id_col: str = "doc_id",
                       n_hashes: int = N_HASHES) -> DataFrame:
    """Estimated Jaccard = fraction of matching signature components."""
    a = sigs.alias("a")
    b = sigs.alias("b")
    j = pairs.join(a, pairs.id_a == F.col(f"a.{id_col}")).join(
        b, pairs.id_b == F.col(f"b.{id_col}")
    )
    matches = sum(
        F.when(F.col(f"a.minhash_{i}") == F.col(f"b.minhash_{i}"), 1).otherwise(0)
        for i in range(n_hashes)
    )
    return j.select(
        "id_a", "id_b", (matches.cast("double") / n_hashes).alias("est_jaccard")
    )


def ngram_jaccard_pairs(docs: DataFrame, pairs: DataFrame, text_col: str = "text",
                        id_col: str = "doc_id",
                        sh_hashes: DataFrame | None = None) -> DataFrame:
    """Jaccard verification of candidate pairs (shingle sets), exact
    up to 64-bit hash collisions: the intersection joins on the
    xxhash64 shingle hash (never the string — guide §2.3
    shuffle-fewer-bytes; dup_span_stats hash convention), so a
    collision can only inflate n_inter, with odds ~n²/2⁶⁴ for n
    distinct shingles; pass a persisted :func:`shingle_hashes` frame to
    share one shingle explode across signatures/verify/sizes."""
    sh = (shingle_hashes(docs, text_col, id_col)
          if sh_hashes is None else sh_hashes)
    sizes = sh.groupBy(id_col).agg(F.count(F.lit(1)).alias("n"))
    a = sh.alias("sa")
    b = sh.alias("sb")
    inter = (
        pairs.join(a, pairs.id_a == F.col(f"sa.{id_col}"))
        .join(b, (pairs.id_b == F.col(f"sb.{id_col}")) & (F.col("sa._h64") == F.col("sb._h64")))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    out = (
        inter.join(sizes.withColumnRenamed("n", "n_a"), inter.id_a == sizes[id_col])
        .drop(id_col)
        .join(sizes.withColumnRenamed("n", "n_b"), inter.id_b == sizes[id_col])
        .drop(id_col)
        .select(
            "id_a", "id_b", "n_inter",
            (F.col("n_inter").cast("double") / (F.col("n_a") + F.col("n_b") - F.col("n_inter"))).alias("jaccard"),
        )
    )
    return out


def containment_pairs(docs: DataFrame, text_col: str = "text",
                      id_col: str = "doc_id", min_inter: int = 3,
                      pairs: DataFrame | None = None) -> DataFrame:
    """Asymmetric shingle CONTAINMENT per shared-shingle pair — the
    quote/extract detector symmetric Jaccard misses: a long page that
    embeds a whole short page scores low Jaccard (union is huge) but
    containment of the short side ≈ 1. Broder's classic dual to
    resemblance; exact integers, both directions per unordered pair:

        cont_a_in_b_x1e4 = (|S_A ∩ S_B| * 10^4) intdiv |S_A|
        cont_b_in_a_x1e4 = (|S_A ∩ S_B| * 10^4) intdiv |S_B|

    (containment OF a IN b is normalized by |S_A| — the fraction of
    A's shingles that B also has.)

    Scale: identical shape to :func:`ngram_jaccard_pairs` — the
    shingle-keyed intersection join bounds each shingle's contribution
    by its doc frequency. At 10^12 docs pass ``pairs`` (id_a, id_b —
    LSH band candidates from :func:`lsh_candidate_pairs`) so the
    intersection runs pair-keyed over the bounded candidate set instead
    of the raw shared-shingle join (whose hot boilerplate shingles go
    quadratic); the sizes joins are id-keyed either way. Reference
    analogue: duplicate-overlap reporting in the provider's dedup
    queries (/root/reference/docs/provider_api.adoc).
    """
    sh = shingles(docs, text_col, id_col)
    sizes = sh.groupBy(id_col).agg(F.count(F.lit(1)).alias("n"))
    a, b = sh.alias("ca"), sh.alias("cb")
    if pairs is not None:
        inter = (
            pairs.select("id_a", "id_b")
            .join(a, F.col("id_a") == F.col(f"ca.{id_col}"))
            .join(b, (F.col("id_b") == F.col(f"cb.{id_col}"))
                  & (F.col("ca.shingle") == F.col("cb.shingle")))
            .groupBy("id_a", "id_b")
            .agg(F.count(F.lit(1)).alias("n_inter"))
            .where(F.col("n_inter") >= min_inter)
        )
    else:
        inter = (
            a.join(b, (F.col("ca.shingle") == F.col("cb.shingle"))
                   & (F.col(f"ca.{id_col}") < F.col(f"cb.{id_col}")))
            .groupBy(F.col(f"ca.{id_col}").alias("id_a"),
                     F.col(f"cb.{id_col}").alias("id_b"))
            .agg(F.count(F.lit(1)).alias("n_inter"))
            .where(F.col("n_inter") >= min_inter)
        )
    sa = sizes.select(F.col(id_col).alias("id_a"), F.col("n").alias("n_a"))
    sb = sizes.select(F.col(id_col).alias("id_b"), F.col("n").alias("n_b"))
    return (
        inter.join(sa, "id_a").join(sb, "id_b")
        .select(
            "id_a", "id_b",
            F.col("n_inter").cast("long").alias("n_inter"),
            F.expr("(n_inter * 10000) div n_a").cast("long")
            .alias("cont_a_in_b_x1e4"),
            F.expr("(n_inter * 10000) div n_b").cast("long")
            .alias("cont_b_in_a_x1e4"),
        )
    )


def fp32_at(col, hex_off: int) -> F.Column:
    """32-bit cross-engine hash from md5 hex chars [hex_off, hex_off+8).
    Independent 32-bit slices of one md5 give independent hash families
    without ever materializing a ≥2^63 value (DuckDB BIGINT shifts
    overflow at bit 63, so 64-bit fingerprints live as two 32-bit
    halves everywhere)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.conv(F.substring(F.md5(c), hex_off, 8), 16, 10).cast("long")


def simhash64(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """64-bit SimHash as (simhash_hi, simhash_lo) 32-bit halves — the
    scale form (16 bits = 65,536 buckets is collision-swamped at 10^12
    docs). Bits 0-31 vote on an md5[9:16] token hash, bits 32-63 on
    md5[1:8] — one token explode, one groupBy, 64 conditional sums, all
    codegen."""
    toks = docs.select(F.col(id_col), F.explode(F.split(F.col(text_col), " ", -1)).alias("tok"))
    h_hi = fp32_at("tok", 1)
    h_lo = fp32_at("tok", 9)
    bit_sums = toks.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_toks"),
        *[F.sum(F.shiftright(h_lo, b).bitwiseAND(F.lit(1))).alias(f"lo_{b}") for b in range(32)],
        *[F.sum(F.shiftright(h_hi, b).bitwiseAND(F.lit(1))).alias(f"hi_{b}") for b in range(32)],
    )

    def _majority(prefix: str) -> F.Column:
        fp = None
        for b in range(32):
            term = F.when(
                F.col(f"{prefix}_{b}") * 2 > F.col("n_toks"), F.lit(1 << b)
            ).otherwise(F.lit(0))
            fp = term if fp is None else fp + term
        return fp.cast("long")

    return bit_sums.select(
        F.col(id_col),
        _majority("hi").alias("simhash_hi"),
        _majority("lo").alias("simhash_lo"),
    )


def simhash_hamming_pairs(
    fps: DataFrame, id_col: str = "doc_id", k: int = 3
) -> DataFrame:
    """Hamming-≤k candidate pairs over 64-bit SimHash fingerprints via
    LSH banding on the bits themselves: split the 64 bits into k+1
    segments — two fingerprints within Hamming distance k MUST agree
    exactly on at least one segment (pigeonhole), so an exact-match
    self-join per segment finds every true pair without the n² cross
    product (same banding trick as ``lsh_candidate_pairs``). Candidates
    are then verified with an exact popcount distance filter.

    With k=3 the 4 segments are 16 bits each; at 10^12 docs each
    segment join keys on 65,536×(other segs) distinct values and AQE
    splits skewed boilerplate buckets."""
    n_segs = k + 1
    seg_bits = 64 // n_segs
    mask = (1 << seg_bits) - 1

    def _segment(i: int) -> F.Column:
        start = i * seg_bits  # bit offset within the 64-bit fingerprint
        if start >= 32:
            src, off = F.col("simhash_hi"), start - 32
        else:
            src, off = F.col("simhash_lo"), start
        # seg_bits ≤ 32 and segments never straddle the hi/lo boundary
        # for k ∈ {1, 3, 7}; assert the invariant for other k
        if start < 32 < start + seg_bits:
            raise ValueError(f"segment {i} straddles the hi/lo boundary (k={k})")
        return F.shiftright(src, off).bitwiseAND(F.lit(mask))

    segs = fps.select(
        F.col(id_col),
        "simhash_hi",
        "simhash_lo",
        F.explode(
            F.array(*[
                F.struct(F.lit(i).alias("seg"), _segment(i).alias("val"))
                for i in range(n_segs)
            ])
        ).alias("sv"),
    ).select(id_col, "simhash_hi", "simhash_lo", F.col("sv.seg").alias("seg"), F.col("sv.val").alias("val"))

    l, r = segs.alias("l"), segs.alias("r")
    cand = (
        l.join(
            r,
            (F.col("l.seg") == F.col("r.seg"))
            & (F.col("l.val") == F.col("r.val"))
            & (F.col(f"l.{id_col}") < F.col(f"r.{id_col}")),
        )
        .select(
            F.col(f"l.{id_col}").alias("id_a"),
            F.col(f"r.{id_col}").alias("id_b"),
            (
                F.bit_count(F.col("l.simhash_hi").bitwiseXOR(F.col("r.simhash_hi")))
                + F.bit_count(F.col("l.simhash_lo").bitwiseXOR(F.col("r.simhash_lo")))
            ).alias("hamming"),
        )
        .distinct()
    )
    return cand.where(F.col("hamming") <= k)


def simhash(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id",
            n_bits: int = SIMHASH_BITS) -> DataFrame:
    """Per-bit majority vote over token hashes → n_bits fingerprint.
    Duplicate tokens vote multiple times (standard weighted SimHash
    with unit weights)."""
    toks = docs.select(F.col(id_col), F.explode(F.split(F.col(text_col), " ", -1)).alias("tok"))
    h = fp32("tok")
    bit_sums = toks.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_toks"),
        *[
            F.sum(F.shiftright(h, b).bitwiseAND(F.lit(1))).alias(f"bit_{b}")
            for b in range(n_bits)
        ],
    )
    fingerprint = None
    for b in range(n_bits):
        term = F.when(F.col(f"bit_{b}") * 2 > F.col("n_toks"), F.lit(1 << b)).otherwise(F.lit(0))
        fingerprint = term if fingerprint is None else fingerprint + term
    return bit_sums.select(F.col(id_col), fingerprint.cast("long").alias("simhash"))


def band_table(sigs: DataFrame, id_col: str = "doc_id",
               n_hashes: int = N_HASHES, n_bands: int = N_BANDS) -> DataFrame:
    """(id, band, key) rows — the stored form of the LSH index. A
    corpus pipeline persists this once (partitioned by band, bucketed
    by key) so each crawl increment probes it instead of re-banding
    10^12 documents."""
    rows = n_hashes // n_bands
    band_cols = []
    for b in range(n_bands):
        parts = [F.col(f"minhash_{b * rows + r}") for r in range(rows)]
        band_cols.append(
            F.struct(F.lit(b).alias("band"),
                     F.concat_ws(":", *[p.cast("string") for p in parts]).alias("key"))
        )
    return sigs.select(F.col(id_col), F.explode(F.array(*band_cols)).alias("bk")).select(
        id_col, F.col("bk.band").alias("band"), F.col("bk.key").alias("key")
    )


def incremental_lsh_pairs(new_sigs: DataFrame, corpus_bands: DataFrame,
                          id_col: str = "doc_id",
                          n_hashes: int = N_HASHES, n_bands: int = N_BANDS,
                          include_new_new: bool = True) -> DataFrame:
    """Candidate near-dup pairs between a NEW batch and the stored
    corpus, plus (``include_new_new``, default on) within the new batch
    itself — the daily-increment form of ``lsh_candidate_pairs``:
    band-key equi-join of the small new side against the persisted band
    table, never re-pairing the existing corpus against itself. At
    10^12 docs this is the only affordable shape: the probe side is
    crawl-day-sized and the join is keyed on (band, key), so AQE can
    broadcast the new side when it is small enough.

    ``include_new_new=True`` additionally self-joins the new batch's
    own bands (day-sized × day-sized), so two near-duplicates arriving
    in the SAME crawl still pair up when the corpus table does not yet
    contain them (probe-before-upsert flow). Pass False only when the
    corpus was upserted first (the probe then already sees the new
    bands).

    Output (id_a, id_b) with id_a < id_b; a pair of two old docs never
    appears (it was found the day both were new)."""
    nb = band_table(new_sigs, id_col, n_hashes, n_bands)
    new_ids = new_sigs.select(F.col(id_col).alias("_nid"))
    probe_side = corpus_bands
    if include_new_new:
        probe_side = corpus_bands.select(id_col, "band", "key").unionByName(nb)
    both = nb.alias("n").join(
        probe_side.alias("c"),
        (F.col("n.band") == F.col("c.band")) & (F.col("n.key") == F.col("c.key")),
    ).select(
        F.least(F.col(f"n.{id_col}"), F.col(f"c.{id_col}")).alias("id_a"),
        F.greatest(F.col(f"n.{id_col}"), F.col(f"c.{id_col}")).alias("id_b"),
    ).where(F.col("id_a") != F.col("id_b"))
    # drop old-old pairs: at least one side must be new. (When the
    # corpus table already CONTAINS the new batch — upsert-then-probe —
    # this also dedupes the doubled new-new matches.)
    keep = (
        both.join(new_ids, both.id_a == F.col("_nid"), "left_semi")
        .unionByName(both.join(new_ids, both.id_b == F.col("_nid"), "left_semi"))
        .distinct()
    )
    return keep


def span_positions(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id",
                   w: int = 8) -> DataFrame:
    """ALL w-token spans per doc WITH positions (multiplicity kept —
    unlike :func:`shingles`, which is set-semantics for Jaccard). One
    row per (doc, pos); the POSITION index is exploded first and the
    span text built in the post-explode projection, which whole-stage
    codegen compiles — building (pos, span) structs inside a
    ``transform`` lambda ran the slice+concat interpreted per element,
    measured 2x slower at bench sf1.0 (optimization r06). Docs shorter
    than w tokens emit nothing."""
    toks = F.split(F.col(text_col), " ", -1)
    idx = F.when(
        F.size(toks) >= w, F.sequence(F.lit(1), F.size(toks) - (w - 1))
    ).otherwise(F.array().cast("array<int>"))
    return (
        docs.select(F.col(id_col), toks.alias("_tk"), F.explode(idx).alias("pos"))
        .select(
            id_col,
            "pos",
            F.concat_ws(" ", F.slice(F.col("_tk"), F.col("pos"), w)).alias("span"),
        )
    )


def dup_span_stats(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id",
                   w: int = 8) -> DataFrame:
    """Per-doc duplicated-span statistics — the measurement half of
    exact-substring dedup (Lee et al., *Deduplicating Training Data
    Makes Language Models Better*, ACL'22, at w-token granularity; the
    practical alternative to their suffix array at warehouse scale is
    exactly this w-gram multiset).

    A span is DUPLICATED when its corpus-wide occurrence count
    (multiplicity across all docs and positions) exceeds 1. Output one
    row per doc with ≥1 span: (doc_id, n_spans, n_dup_spans,
    dup_frac_x1e4) — integer-exact, oracle-paired
    (``dup_span_stats_documents``).

    Scale shape: spans are counted by 64-bit hash (never shuffling the
    span strings — ~8 bytes/span instead of ~50), pre-aggregated per
    (doc, hash) so the ONE wide shuffle is keyed on (doc, hash) — a hot
    span (web boilerplate at 10⁸-10⁹ copies) spreads across its carrier
    docs instead of landing in one ``Window.partitionBy(_h)`` straggler
    task, and within one doc it collapses map-side. The corpus-wide
    multiplicity is a second, much smaller aggregation over the
    collapsed pairs, and both the count branch and the probe branch
    hang off the SAME (doc, hash) exchange, so ReuseExchange computes
    the span explode exactly once. Hash collisions can only overcount
    n_dup_spans by ~n²/2⁶⁴ — negligible and one-sided; the gate sf has
    none."""
    sp = span_positions(docs, text_col, id_col, w).select(
        id_col, F.xxhash64("span").alias("_h")
    )
    g1 = sp.groupBy(id_col, "_h").agg(F.count(F.lit(1)).alias("_c_dh"))
    dup_h = (
        g1.groupBy("_h")
        .agg(F.sum("_c_dh").alias("_C"))
        .where(F.col("_C") > 1)
        .select("_h", F.lit(True).alias("_dup"))
    )
    per = g1.join(dup_h, "_h", "left")
    return (
        per.groupBy(id_col)
        .agg(
            F.sum("_c_dh").alias("n_spans"),
            F.sum(F.when(F.col("_dup"), F.col("_c_dh")).otherwise(F.lit(0)))
            .alias("n_dup_spans"),
        )
        .select(
            id_col, "n_spans", "n_dup_spans",
            F.floor(F.col("n_dup_spans") * 10000 / F.col("n_spans"))
            .cast("long").alias("dup_frac_x1e4"),
        )
    )


def _dup_span_starts(docs: DataFrame, text_col: str, id_col: str,
                     w: int) -> DataFrame:
    """Per-doc start positions of corpus-duplicated w-spans — the shared
    front half of both strip variants. Pre-aggregated per (doc, hash):
    positions collapse into a bounded list (≤ doc length), the corpus
    count derives from the SAME exchange (ReuseExchange → one span
    explode), and the semi-join probe carries collapsed pairs, not
    per-occurrence rows — the skew-safe shape dup_span_stats uses."""
    sp = span_positions(docs, text_col, id_col, w).withColumn("_h", F.xxhash64("span"))
    g1 = sp.groupBy(id_col, "_h").agg(
        F.collect_list("pos").alias("_pos"), F.count(F.lit(1)).alias("_c_dh")
    )
    dup_h = (
        g1.groupBy("_h")
        .agg(F.sum("_c_dh").alias("_C"))
        .where(F.col("_C") > 1)
        .select("_h")
    )
    return (
        g1.join(dup_h, "_h", "left_semi")
        .groupBy(id_col)
        .agg(F.flatten(F.collect_list("_pos")).alias("_starts"))
    )


def strip_dup_spans(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id",
                    w: int = 8) -> DataFrame:
    """The removal half of exact-substring dedup: every token covered by
    ANY duplicated span (corpus count > 1) is dropped and the text
    reassembled — all JVM array ops after the same skew-safe
    groupBy-count + semi-join shape as :func:`dup_span_stats` (hot-span
    multiplicity collapses map-side; no per-hash window task); no
    Python in the row path.

    Returns (id, {text_col} with covered tokens removed, n_tokens_kept,
    n_tokens_dropped). Docs with no spans (shorter than w) pass through
    unchanged. The greedy drop-any-covered-token policy matches the
    conservative variant of Lee et al. (they cut the duplicated
    substring; covering-token removal is the w-gram approximation of
    the same cut)."""
    joined = docs.join(_dup_span_starts(docs, text_col, id_col, w), id_col, "left")
    toks = F.split(F.col(text_col), " ", -1)
    covered = F.array_distinct(
        F.flatten(
            F.transform(
                F.coalesce(F.col("_starts"), F.array().cast("array<int>")),
                lambda s: F.sequence(s, s + (w - 1)),
            )
        )
    )
    kept = F.filter(toks, lambda x, i: ~F.array_contains(covered, i + F.lit(1)))
    return joined.select(
        id_col,
        F.concat_ws(" ", kept).alias(text_col),
        F.size(kept).alias("n_tokens_kept"),
        (F.size(toks) - F.size(kept)).alias("n_tokens_dropped"),
    )


def strip_dup_spans_segments(docs: DataFrame, text_col: str = "text",
                             id_col: str = "doc_id", w: int = 8) -> DataFrame:
    """Segment-granularity exact-substring cut — the faithful Lee et al.
    (ACL'22 §4.2) shape: CUT the duplicated substring and KEEP the
    surrounding text as separate runs, instead of collapsing the whole
    doc to one space-joined remainder (``strip_dup_spans``). Each
    maximal run of tokens not covered by any corpus-duplicated w-span
    becomes its own output row:

        (doc_id, seg_idx 1..n, seg_start = 1-based token position,
         seg_text, n_tokens)

    Intra-run spacing is byte-exact: the tokenization splits on single
    spaces (empty tokens preserved), so rejoining a run of consecutive
    positions with single spaces reconstructs the original bytes of
    that run — the oracle rebuilds segment TEXT and must match
    byte-identically. Fully-covered docs emit no rows; docs shorter
    than w (nothing coverable) emit one whole-doc segment.

    Scale shape: same skew-safe front half as ``strip_dup_spans``
    ((doc,hash) pre-agg + semi-join), then runs form via the
    gaps-and-islands trick (pos - row_number over the doc) — windows
    are DOC-keyed (bounded by doc length, never corpus-keyed), one
    shuffle family on doc_id."""
    from pyspark.sql import Window

    joined = docs.join(_dup_span_starts(docs, text_col, id_col, w), id_col, "left")
    toks = F.split(F.col(text_col), " ", -1)
    covered = F.array_distinct(
        F.flatten(
            F.transform(
                F.coalesce(F.col("_starts"), F.array().cast("array<int>")),
                lambda s: F.sequence(s, s + (w - 1)),
            )
        )
    )
    kept = joined.select(
        id_col, F.posexplode(toks).alias("_i0", "_tk"), covered.alias("_cov")
    ).where(~F.array_contains(F.col("_cov"), F.col("_i0") + 1)).select(
        id_col, (F.col("_i0") + 1).alias("_pos"), "_tk"
    )
    wd = Window.partitionBy(id_col).orderBy("_pos")
    runs = kept.withColumn("_rid", F.col("_pos") - F.row_number().over(wd))
    segs = runs.groupBy(id_col, "_rid").agg(
        F.min("_pos").alias("seg_start"),
        F.concat_ws(
            " ", F.transform(F.array_sort(F.collect_list(F.struct("_pos", "_tk"))),
                             lambda s: s["_tk"])
        ).alias("seg_text"),
        F.count(F.lit(1)).alias("n_tokens"),
    )
    ws = Window.partitionBy(id_col).orderBy("seg_start")
    return segs.select(
        id_col,
        F.row_number().over(ws).cast("long").alias("seg_idx"),
        F.col("seg_start").cast("long").alias("seg_start"),
        "seg_text",
        "n_tokens",
    )


N_SPAN_SHARDS = 256


def commit_span_counts(new_docs: DataFrame, store, table: str = "span_counts",
                       text_col: str = "text", id_col: str = "doc_id",
                       w: int = 8, n_shards: int = N_SPAN_SHARDS) -> None:
    """Incremental exact-substring dedup, ingest side: append the new
    batch's span-hash counts to a sharded partial LOG. Counts are
    additive (the same mergeable-summary argument as the sketch/
    histogram partial logs), so a batch commit is append-only — the
    corpus-so-far is never rewritten and never re-scanned.

    Log schema: (shard, h, c); shard = pmod(h, n_shards) is the
    partition column, so the merge-at-read shuffle is pre-bucketed and
    ``compact_span_counts`` can fold the log per shard."""
    sp = span_positions(new_docs, text_col, id_col, w)
    counts = (
        sp.select(F.xxhash64("span").alias("h"))
        .groupBy("h")
        .agg(F.count(F.lit(1)).alias("c"))
        .withColumn("shard", F.pmod(F.col("h"), F.lit(n_shards)).cast("int"))
    )
    store.append(counts, table, partition_by=["shard"])


def merged_span_counts(store, table: str = "span_counts") -> DataFrame:
    """Corpus-so-far span-hash counts: merge-at-read over the log."""
    return store.read(table).groupBy("h").agg(F.sum("c").alias("c"))


def compact_span_counts(store, table: str = "span_counts",
                        n_shards: int = N_SPAN_SHARDS) -> None:
    """Fold the append log to one row per hash (maintenance job — reads
    stay correct without it; this just bounds log length)."""
    merged = merged_span_counts(store, table).withColumn(
        "shard", F.pmod(F.col("h"), F.lit(n_shards)).cast("int")
    )
    staged = f"{table}__compacted"
    store.write(merged.repartition(F.col("shard")), staged, partition_by=["shard"])
    store.overwrite_partitions(store.read(staged), table, ["shard"])
    import shutil

    shutil.rmtree(store.path(staged), ignore_errors=True)


def dup_span_stats_incremental(new_docs: DataFrame, store,
                               table: str = "span_counts",
                               text_col: str = "text", id_col: str = "doc_id",
                               w: int = 8) -> DataFrame:
    """Duplicated-span stats for the NEW batch against the whole corpus
    seen so far (commit the batch first). Join of the batch's spans
    against the merged count log on hash — O(batch + touched log
    shards), never O(corpus); equality with the from-scratch batch
    computation is tested (`test_incremental_dedup.py`)."""
    sp = span_positions(new_docs, text_col, id_col, w).withColumn(
        "_h", F.xxhash64("span")
    ).drop("span")
    joined = sp.join(
        merged_span_counts(store, table).withColumnRenamed("h", "_h"), "_h", "left"
    )
    return (
        joined.groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_spans"),
            F.sum((F.coalesce(F.col("c"), F.lit(0)) > 1).cast("long")).alias("n_dup_spans"),
        )
        .select(
            id_col, "n_spans", "n_dup_spans",
            F.floor(F.col("n_dup_spans") * 10000 / F.col("n_spans"))
            .cast("long").alias("dup_frac_x1e4"),
        )
    )


def contamination_span_positions(
    docs: DataFrame,
    benchmark: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    w: int = 8,
) -> DataFrame:
    """Span-LEVEL contamination (VERDICT r3 next-item #7): the 1-based
    start position of every training-doc w-span that also occurs in the
    benchmark — what surgical excision needs (cut exactly the
    overlapping n-grams) where ``benchmark_contamination``'s doc-level
    flag could only drop whole docs.

    Returns (doc_id, pos) per matching occurrence. Same scale shape as
    the doc-level flag: the benchmark side collapses to distinct span
    hashes (broadcastable — eval sets are tiny next to the corpus) and
    the probe is a semi-join on the hash riding the span pass the dedup
    family already makes."""
    sp = span_positions(docs, text_col, id_col, w).withColumn(
        "_h", F.xxhash64("span")
    ).drop("span")
    bench = (
        span_positions(benchmark, text_col, id_col, w)
        .select(F.xxhash64("span").alias("_h"))
        .distinct()
    )
    return sp.join(bench, "_h", "left_semi").select(id_col, "pos")


def excise_contaminated_spans(
    docs: DataFrame,
    benchmark: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    w: int = 8,
) -> DataFrame:
    """Surgical decontamination: cut every token covered by a
    benchmark-overlapping w-span and keep the surrounding runs as
    segments — ``strip_dup_spans_segments``' cut semantics with the
    covered set sourced from :func:`contamination_span_positions`
    instead of corpus-duplicate counts. Output rows: (doc_id, seg_idx,
    seg_start, seg_text, n_tokens); uncontaminated docs come through as
    one whole-doc segment."""
    from pyspark.sql import Window

    starts = contamination_span_positions(docs, benchmark, text_col, id_col, w)
    starts_per_doc = starts.groupBy(id_col).agg(
        F.collect_list("pos").alias("_starts")
    )
    joined = docs.join(starts_per_doc, id_col, "left")
    toks = F.split(F.col(text_col), " ", -1)
    covered = F.array_distinct(
        F.flatten(
            F.transform(
                F.coalesce(F.col("_starts"), F.array().cast("array<int>")),
                lambda s: F.sequence(s, s + (w - 1)),
            )
        )
    )
    kept = joined.select(
        id_col, F.posexplode(toks).alias("_i0", "_tk"), covered.alias("_cov")
    ).where(~F.array_contains(F.col("_cov"), F.col("_i0") + 1)).select(
        id_col, (F.col("_i0") + 1).alias("_pos"), "_tk"
    )
    wd = Window.partitionBy(id_col).orderBy("_pos")
    runs = kept.withColumn("_rid", F.col("_pos") - F.row_number().over(wd))
    segs = runs.groupBy(id_col, "_rid").agg(
        F.min("_pos").alias("seg_start"),
        F.concat_ws(
            " ", F.transform(F.array_sort(F.collect_list(F.struct("_pos", "_tk"))),
                             lambda s: s["_tk"])
        ).alias("seg_text"),
        F.count(F.lit(1)).alias("n_tokens"),
    )
    ws = Window.partitionBy(id_col).orderBy("seg_start")
    return segs.select(
        id_col,
        F.row_number().over(ws).cast("long").alias("seg_idx"),
        F.col("seg_start").cast("long").alias("seg_start"),
        "seg_text",
        "n_tokens",
    )


def benchmark_contamination(
    docs: DataFrame,
    benchmark: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    w: int = 8,
    min_shared: int = 1,
) -> DataFrame:
    """Eval-set decontamination (the n-gram-overlap protocol of GPT-3 /
    PaLM appendix dedup): flag training documents sharing >=
    ``min_shared`` distinct w-token spans with a benchmark corpus.

    Returns (id, n_spans, n_contaminated_spans, contaminated int 0/1)
    per training doc with >= 1 span. The benchmark side collapses to
    DISTINCT span hashes — eval sets are tiny relative to the corpus,
    so at scale that side broadcasts and the check is a map-side hash
    probe on the same span pass dedup already makes; here it is a plain
    left join on the hash (Catalyst broadcasts it when small).
    Counted on DISTINCT spans per doc (a doc repeating one benchmark
    span is one hit — overlap breadth, not frequency)."""
    sp = (
        span_positions(docs, text_col, id_col, w)
        .select(id_col, F.xxhash64("span").alias("_h"))
        .distinct()
    )
    bench = (
        span_positions(benchmark, text_col, id_col, w)
        .select(F.xxhash64("span").alias("_h"))
        .distinct()
        .withColumn("_hit", F.lit(1))
    )
    joined = sp.join(bench, "_h", "left")
    return (
        joined.groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_spans"),
            F.sum(F.coalesce(F.col("_hit"), F.lit(0))).alias("n_contaminated_spans"),
        )
        .select(
            id_col, "n_spans", "n_contaminated_spans",
            (F.col("n_contaminated_spans") >= min_shared).cast("int").alias("contaminated"),
        )
    )


def edit_distance_pairs(
    docs: DataFrame,
    pairs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Exact Levenshtein verify over CANDIDATE pairs — the final
    confirmation stage of the dedup funnel: shingles/MinHash/SimHash
    nominate, set measures (Jaccard, containment) rank, and edit
    distance settles what the set measures cannot (transpositions,
    small in-place edits that keep the shingle set intact).

    ``pairs`` must carry (id_a, id_b) — LSH band candidates
    (:func:`lsh_candidate_pairs`) or a shared-shingle pair set; the
    quadratic-per-pair DP cost is bounded by CANDIDATE count × text
    length², never corpus². Both joins are id-keyed; at 10^12 docs the
    candidate side is orders of magnitude smaller than the corpus and
    broadcasts when it fits.

    Emits integer columns only: ``edit_distance`` (JVM built-in
    ``levenshtein`` — no Python), ``len_a``/``len_b`` (chars), and
    ``sim_x1e4 = ((max_len − d) · 10^4) intdiv max_len`` — exact, so
    thresholds behave identically across engines. Reference analogue:
    the dedup-verify step of the provider's duplicate queries
    (/root/reference/docs/provider_api.adoc); engine-added exactness
    tier.
    """
    t = docs.select(
        F.col(id_col), F.col(text_col), F.length(text_col).alias("_len")
    )
    j = (
        pairs.select("id_a", "id_b")
        .join(
            t.select(
                F.col(id_col).alias("id_a"),
                F.col(text_col).alias("_ta"),
                F.col("_len").alias("len_a"),
            ),
            "id_a",
        )
        .join(
            t.select(
                F.col(id_col).alias("id_b"),
                F.col(text_col).alias("_tb"),
                F.col("_len").alias("len_b"),
            ),
            "id_b",
        )
    )
    d = F.levenshtein("_ta", "_tb")
    return j.select(
        "id_a",
        "id_b",
        d.cast("long").alias("edit_distance"),
        F.col("len_a").cast("long").alias("len_a"),
        F.col("len_b").cast("long").alias("len_b"),
        # two empty texts are identical — sim 10000, not a
        # divide-by-zero NULL
        F.expr(
            "CASE WHEN greatest(len_a, len_b) = 0 THEN 10000 ELSE "
            "((greatest(len_a, len_b) - levenshtein(_ta, _tb)) * 10000) "
            "div greatest(len_a, len_b) END"
        )
        .cast("long")
        .alias("sim_x1e4"),
    )
