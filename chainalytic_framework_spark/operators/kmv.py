"""KMV (k-minimum-values) distinct sketches with SET-INTERSECTION
estimation — the deterministic, oracle-replayable complement to the
DataSketches HLL/theta path (operators/sketches.py).

HLL partials union losslessly but cannot intersect; Spark's theta
sketches intersect but their estimates are float-valued and
seed-opaque, so a cross-engine oracle cannot replay them bit-for-bit
(the theta contract queries are property-tested, not hash-gated).
KMV (Bar-Yossef et al. 2002; Beyer et al. SIGMOD'07) closes that gap:
the sketch IS the k smallest distinct 60-bit md5 hashes of the key —
pure integer algebra end to end, so every estimate is an exact
function of the input that DuckDB reproduces bit-for-bit, and overlap
queries (audience/user-set intersection between segments or time
ranges) become gate-certifiable like every numeric operator.

Estimators (M = 2^60, the hash-space size; h_(k) = k-th smallest):

    distinct:   sketch saturated (size == k) → (k-1)·M div h_(k)
                else EXACT (the sketch holds the whole hash set)
    pair (A,B): U = k smallest of (sketch_A ∪ sketch_B), kk = |U|,
                τ = max(U);  union_est as above on U;
                x = |{h ∈ A ∩ B : h ≤ τ}|   (intersection inside U)
                jaccard_x1e4 = x·10⁴ div kk
                inter_est    = x·union_est div kk
                When BOTH sketches are unsaturated every quantity is
                exact set arithmetic (the formulas degrade to it:
                kk = |A ∪ B|, x = |A ∩ B|).

Scale shape: one distinct-collapsing groupBy on (keys, hash) —
map-side combinable, duplicates die before the shuffle — then the
two-phase shard-pruned k-min (the ngram_counts top-k shape: any
global k-min is its own shard's k-min, so phase 1 bounds the final
window's input to shards·k rows per key regardless of cardinality).
Sketch rows are one array<long> of ≤ k per key: pair joins are
sketch-count-sized, never key-space-sized. No UDFs — array_union /
array_intersect / filter are JVM-side codegen.

Reference analogue: A4 set-size counts (the reference keeps exact
per-window wallet sets — `recent_stake_wallets.py`); SURVEY §2.11
sketch gap, extended to intersections.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .sampling import key_hash

M60 = 1 << 60  # hash-space size for the 60-bit md5-prefix hash
_DEC = "decimal(38,0)"


def kmv_sketch(
    df: DataFrame,
    key_cols: list[str],
    value_col: str,
    k: int = 64,
    seed: int = 7,
    shards: int = 32,
) -> DataFrame:
    """Per-key KMV sketch: (keys..., hashes array<long> ascending of
    size ≤ k, sk_size). ``hashes`` are the k smallest DISTINCT 60-bit
    hashes of ``value_col``; a key with < k distinct values stores its
    complete hash set (estimates are then exact)."""
    if k < 2:
        raise ValueError(f"k must be >= 2: {k}")
    if shards < 1:
        raise ValueError(f"shards must be >= 1: {shards}")
    h = key_hash(value_col, seed)
    d = (
        df.select(*key_cols, h.alias("_h"))
        .groupBy(*key_cols, "_h")
        .agg(F.lit(1).alias("_one"))
        .drop("_one")
    )
    # two-phase shard-pruned k-min: phase 1 caps each (key, shard) at k
    # rows (lossless — a global k-min survives its shard's k-min), so
    # the final per-key window sorts ≤ shards·k rows, never the key's
    # full distinct-value set
    w1 = Window.partitionBy(*key_cols, "_sh").orderBy("_h")
    pruned = (
        d.withColumn("_sh", F.pmod(F.col("_h"), F.lit(shards)))
        .withColumn("_rn", F.row_number().over(w1))
        .where(F.col("_rn") <= k)
        .drop("_sh", "_rn")
    )
    w2 = Window.partitionBy(*key_cols).orderBy("_h")
    kept = pruned.withColumn("_rn", F.row_number().over(w2)).where(
        F.col("_rn") <= k
    )
    return kept.groupBy(*key_cols).agg(
        F.array_sort(F.collect_list("_h")).alias("hashes"),
        F.count(F.lit(1)).cast("long").alias("sk_size"),
    )


def kmv_estimate(sketches: DataFrame, k: int) -> DataFrame:
    """Distinct-count estimate per sketch row: exact when unsaturated,
    (k-1)·M div h_(k) when saturated — integer-exact either way."""
    est = F.when(F.col("sk_size") < k, F.col("sk_size")).otherwise(
        F.expr(
            f"CAST(CAST({k - 1} AS {_DEC}) * {M60} div "
            f"element_at(hashes, {k}) AS BIGINT)"
        )
    )
    return sketches.withColumn("distinct_est", est.cast("long"))


def _pair_estimates(j: DataFrame, k: int, out_cols: list) -> DataFrame:
    """Shared KMV pair algebra over a joined frame carrying ``_ha`` /
    ``_hb`` sketch arrays: union_est, inter_est, jaccard_x1e4."""
    u = F.array_sort(F.array_union("_ha", "_hb"))
    j = j.withColumn("_u", u).withColumn("_usz", F.size("_u"))
    kk = F.least(F.lit(k), F.col("_usz"))
    tau = F.element_at("_u", kk)
    j = j.withColumn("_kk", kk).withColumn("_tau", tau)
    inter_in = F.size(
        F.filter(
            F.array_intersect("_ha", "_hb"), lambda x: x <= F.col("_tau")
        )
    )
    union_est = F.when(F.col("_usz") < k, F.col("_usz").cast("long")).otherwise(
        F.expr(
            f"CAST(CAST({k - 1} AS {_DEC}) * {M60} div _tau AS BIGINT)"
        )
    )
    j = j.withColumn("_x", inter_in).withColumn("union_est", union_est)
    return j.select(
        *out_cols,
        "union_est",
        F.expr(
            f"CAST(CAST(_x AS {_DEC}) * union_est div _kk AS BIGINT)"
        ).alias("inter_est"),
        F.expr("CAST(_x * 10000 div _kk AS BIGINT)").alias("jaccard_x1e4"),
    )


def kmv_overlap(
    sketches: DataFrame,
    key_cols: list[str],
    k: int,
) -> DataFrame:
    """All-pairs overlap BETWEEN sketch rows (pairs ordered by the
    key tuple): union_est, inter_est, jaccard_x1e4 per pair. The join
    is sketch-count-sized (one row per key) — at any corpus scale this
    touches arrays of ≤ k longs, never the key space."""
    a = sketches.select(
        *[F.col(c).alias(f"{c}_a") for c in key_cols],
        F.col("hashes").alias("_ha"),
    )
    b = sketches.select(
        *[F.col(c).alias(f"{c}_b") for c in key_cols],
        F.col("hashes").alias("_hb"),
    )
    cond = None
    # strict lexicographic (a < b) over the key tuple → each unordered
    # pair once, deterministically
    eqs = []
    for c in key_cols:
        lt = F.col(f"{c}_a") < F.col(f"{c}_b")
        this = lt
        for e in eqs:
            this = e & this
        cond = this if cond is None else cond | this
        eqs.append(F.col(f"{c}_a") == F.col(f"{c}_b"))
    j = a.join(b, cond)
    return _pair_estimates(
        j, k, [f"{c}_a" for c in key_cols] + [f"{c}_b" for c in key_cols]
    )


def kmv_merge(
    sketches: DataFrame,
    key_cols: list[str],
    k: int,
) -> DataFrame:
    """LOSSLESS sketch merge to one row per key: the k smallest of the
    union of per-part k-mins IS the k-min of the union (any hash among
    the global k smallest is a fortiori among its own part's k
    smallest) — so per-day stored sketches roll up to exact range
    sketches the same way additive tier measures cascade
    (``downsample_with_spec``), and overlap over ANY time range reads
    sketch rows, never raw keys. Input per key is bounded by
    parts·k longs (a year of daily sketches at k=256 is ~10⁵)."""
    merged = F.slice(
        F.array_sort(F.array_distinct(F.flatten(F.collect_list("hashes")))),
        1,
        k,
    )
    return (
        sketches.groupBy(*key_cols)
        .agg(merged.alias("hashes"))
        .withColumn("sk_size", F.size("hashes").cast("long"))
    )


def kmv_overlap_ranges(
    sk_a: DataFrame,
    sk_b: DataFrame,
    key_cols: list[str],
    k: int,
) -> DataFrame:
    """Per-key overlap BETWEEN two sketch frames (e.g. the merged
    sketches of two time ranges): for each key present in both frames,
    union_est / inter_est / jaccard_x1e4 of side A's key set vs side
    B's — the \"how much of last month's audience came back this
    month\" query, answered from stored sketch rows alone."""
    a = sk_a.select(*key_cols, F.col("hashes").alias("_ha"))
    b = sk_b.select(*key_cols, F.col("hashes").alias("_hb"))
    return _pair_estimates(a.join(b, key_cols), k, list(key_cols))
