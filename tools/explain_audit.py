"""Plan-quality audit: print physical-plan evidence for the flagship
operators (pushdown, pruning, broadcast, TakeOrderedAndProject, shuffle
counts). Run after plan-affecting changes; the expectations encode the
plans we WANT, not just the ones we got.

Usage: python tools/explain_audit.py [sf_dir]
"""

from __future__ import annotations

import re
import sys

sys.path.insert(0, ".")

from chainalytic_framework_spark import contract
from chainalytic_framework_spark.operators.fold import prepare_observations
from chainalytic_framework_spark.operators.gapfill import gapfill_locf
from chainalytic_framework_spark.operators.registry import (
    DEFAULT_SET,
    downsample_with_spec,
    rollup_with_spec,
    rollup_with_spec_clustered,
)
from chainalytic_framework_spark.session import build_session
from chainalytic_framework_spark.synth import generate_pages


def _count_exchanges(plan: str) -> int:
    """DISTINCT Exchange instances by expression text (plan_id
    stripped): the formatted plan repeats a persisted subtree's build
    text at every InMemoryTableScan reference — with fresh plan_ids
    per reference — so a naive substring count over-counts cached
    plans (r06 — the histogram cascade queries persist their tier
    parents). Genuine re-executions of an identical exchange surface
    as ReusedExchange in Spark plans, so text-dedup is safe."""
    seen = set()
    for line in plan.split("\n"):
        if "Exchange " in line and "ReusedExchange" not in line:
            seen.add(re.sub(r"\[plan_id=\d+\]", "", line[line.index("Exchange "):]))
    return len(seen)


def audit(name: str, df, expect: dict) -> bool:
    plan = df._jdf.queryExecution().executedPlan().toString()
    checks = {
        "exchanges<=": _count_exchanges(plan) <= expect.get("max_exchanges", 99),
        "broadcast": ("BroadcastExchange" in plan) == expect.get("broadcast", "BroadcastExchange" in plan),
        "take_ordered": ("TakeOrderedAndProject" in plan) == expect.get("take_ordered", "TakeOrderedAndProject" in plan),
        "no_cartesian": "CartesianProduct" not in plan or expect.get("allow_cartesian", False),
    }
    if expect.get("no_window"):
        # skew guard: a Window.partitionBy on a high-multiplicity key makes
        # one unsplittable task per hot key; groupBy+join shapes must be used
        checks["no_window"] = not re.search(r"\bWindow\b", plan)
    for frag in expect.get("must_contain", ()):
        checks[f"contains:{frag}"] = frag in plan
    pushed = re.search(r"PushedFilters: \[([^\]]*)\]", plan)
    if expect.get("pushed_filters"):
        checks["pushed_filters"] = bool(pushed and pushed.group(1).strip())
    ok = all(checks.values())
    status = "OK " if ok else "BAD"
    print(f"{status} {name}: exchanges={plan.count('Exchange ')} "
          f"pushed=[{pushed.group(1)[:60] if pushed else ''}] "
          f"bcast={'BroadcastExchange' in plan} top={'TakeOrderedAndProject' in plan}")
    if not ok:
        print({k: v for k, v in checks.items() if not v})
    return ok


def main() -> int:
    import os

    # audit the AT-SCALE plan shapes: the local-testdata scan fan-out
    # (contract._t — a repartition of single-row-group files that real
    # warehouse layouts never trigger) would add one Exchange to every
    # scan and mask the pushdown/exchange-count assertions below
    os.environ.setdefault("SPARK_GRAFT_SCAN_FANOUT", "off")
    sf = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    spark = build_session(master="local[4]", shuffle_partitions=4)
    spark.sparkContext.setLogLevel("ERROR")
    pages = generate_pages(spark, 20000)
    obs = prepare_observations(pages)

    ok = True
    ok &= audit("filter_project (P1): pushdown into scan",
                contract.filter_project_events(spark, sf),
                {"max_exchanges": 0, "pushed_filters": True})
    # the pipeline's finest-tier build: its one exchange is already the
    # (bucket_day, url_hash group) write layout, so the aggregate and
    # the tier write add none
    ok &= audit("rollup_1m clustered: one exchange, already the write layout",
                rollup_with_spec_clustered(obs, DEFAULT_SET, "1m", 4),
                {"max_exchanges": 1})
    ok &= audit("topk (W1): TakeOrderedAndProject, single shuffle",
                contract.topk_users_events(spark, sf),
                {"max_exchanges": 1, "take_ordered": True})
    ok &= audit("join dims (J2): broadcast, fact never shuffles for join",
                contract.join_revenue_by_nation(spark, sf),
                {"broadcast": True})
    ok &= audit("gapfill: bounded shuffles (agg + window + join)",
                gapfill_locf(rollup_with_spec(obs, DEFAULT_SET, "1h"), "1h"),
                {"max_exchanges": 5})
    ok &= audit("lsh pairs: bucket-keyed join, no cartesian",
                contract.lsh_candidate_pairs_documents(spark, sf),
                {})
    ok &= audit("asof join: one shuffle family on key",
                contract.asof_join_events(spark, sf),
                {"max_exchanges": 4})
    ok &= audit("registry rollup+cascade: two agg shuffles, no extra",
                contract.registry_rollup_1h_events(spark, sf),
                {"max_exchanges": 2})
    ok &= audit("ivf assign+probe: codegen literals, single topk shuffle family",
                contract.ivf_topk_embeddings(spark, sf),
                {"max_exchanges": 2, "take_ordered": True})
    ok &= audit("simhash hamming pairs: segment-keyed join, no cartesian",
                contract.simhash_hamming_pairs_documents(spark, sf),
                {})

    ok &= audit("hash_sample: scan-side filter, zero shuffles",
                contract.hash_sample_documents(spark, sf),
                {"max_exchanges": 0})
    ok &= audit("reservoir per group: one group-key shuffle",
                contract.reservoir_per_group_documents(spark, sf),
                {"max_exchanges": 1})
    ok &= audit("tfidf top terms: keyed agg/join shuffles only, no cartesian",
                contract.tfidf_top_terms_documents(spark, sf),
                {"broadcast": True})

    ok &= audit("moving window: one agg shuffle + one window shuffle",
                contract.moving_window_events(spark, sf),
                {"max_exchanges": 2})
    ok &= audit("zscore anomaly: one agg shuffle + one window shuffle",
                contract.zscore_anomaly_events(spark, sf),
                {"max_exchanges": 2})
    ok &= audit("seasonal profile: single agg shuffle",
                contract.seasonal_profile_events(spark, sf),
                {"max_exchanges": 1})
    ok &= audit("snapshot diff: keyed aggs reused by the outer join, no cartesian",
                contract.snapshot_diff_events(spark, sf),
                {"max_exchanges": 4})

    # components: each large/small-star round must be keyed joins, never
    # a cartesian, and the convergence check is a 1-row aggregate
    from chainalytic_framework_spark.operators.components import large_star, small_star

    pairs = spark.range(2000).selectExpr("id AS id_a", "pmod(id * 37, 2000) AS id_b")
    edges = pairs.where("id_a != id_b")
    round1 = small_star(large_star(
        edges.selectExpr("id_a AS a", "id_b AS b")))
    ok &= audit("components round (large+small star): keyed joins only",
                round1, {})

    # fold_events write path must NOT contain a range-sampling exchange:
    # repartitionByRange would recompute the pandas fold for its sample
    from pyspark.sql import functions as F

    from chainalytic_framework_spark.operators.fold import fold_observations
    from chainalytic_framework_spark.tables import TableStore

    fold_days = fold_observations(prepare_observations(pages)).withColumn(
        "bucket_day", F.to_date("warc_ts")
    )
    store = TableStore(spark, "/tmp/cfs_audit_wh")
    clustered = store.cluster_for_write_hash(fold_days, ["bucket_day"], secondary="url_hash")
    plan = clustered._jdf.queryExecution().executedPlan().toString()
    no_range = "rangepartitioning" not in plan.lower()
    print(("OK " if no_range else "BAD") + " fold write clustering: hash, no range-sampling pass")
    ok &= no_range

    # round-2 session additions
    ok &= audit("histogram merged p90: agg cascade + one window shuffle family",
                contract.histogram_p90_daily_events(spark, sf),
                {"max_exchanges": 4})
    ok &= audit("cusum drift: one agg shuffle + window-on-key, codegen only",
                contract.cusum_drift_events(spark, sf),
                {"max_exchanges": 3})
    ok &= audit("ewma fold: higher-order funcs stay in one window shuffle",
                contract.ewma_1h_events(spark, sf),
                {"max_exchanges": 2})
    # partials are consumed twice by the merge (key sums + truncation
    # mass); composed live that doubles the partial subplan (8 vs the
    # stored-tier 5) — in production the merge reads the STORED partial
    # table, the whole point of mergeable summaries
    ok &= audit("heavy hitters: single-branch partial + broadcast merge",
                contract.heavy_hitters_daily_events(spark, sf),
                {"max_exchanges": 8, "broadcast": True})
    ok &= audit("index search: term filter BEFORE explode (pruned index scan)",
                contract.term_search_documents(spark, sf),
                {"max_exchanges": 4})
    # tf consumed twice (corpus stats + join-back); composed live the
    # explode runs twice — unigram_surprisal(tf=...) takes the stored
    # TF/index table on a cluster (see operator docstring)
    ok &= audit("surprisal: vocab join broadcast-eligible, keyed aggs only",
                contract.unigram_surprisal_documents(spark, sf),
                {"max_exchanges": 9, "broadcast": True})
    ok &= audit("cohort matrix: windowed first-seen, join-free (4 keyed shuffles)",
                contract.cohort_retention_events(spark, sf),
                {"max_exchanges": 4})
    ok &= audit("url canonicalize: pure expressions, zero shuffles",
                contract.url_canonicalize_documents(spark, sf),
                {"max_exchanges": 0})

    # the contract query derives all four tiers LIVE from raw, so every
    # union branch re-runs its cascade chain (10 exchanges); in
    # production the router reads STORED tier tables — each branch is
    # one pruned scan and the final keyed agg is the only shuffle
    ok &= audit("routed range: per-tier branches + final agg (live-composed)",
                contract.routed_range_events(spark, sf),
                {"max_exchanges": 10})
    ok &= audit("correlation pairs: bucket-keyed self-join, never key-space cross",
                contract.correlation_pairs_events(spark, sf),
                {"max_exchanges": 5})
    ok &= audit("grouping-sets rollup: ONE Expand+Aggregate pass",
                contract.rollup_grouping_sets_documents(spark, sf),
                {"max_exchanges": 1})
    ok &= audit("path-prefix rollup: one explode+groupBy, zero joins",
                contract.path_prefix_rollup_documents(spark, sf),
                {"max_exchanges": 1})

    # round-3 session additions
    # routed p90 composes three LIVE hist tiers (each an agg cascade)
    # plus the merge + quantile window; stored-tier serving reads one
    # pruned scan per segment (same caveat as routed_range above)
    ok &= audit("routed p90: per-tier hist branches + merge + quantile window",
                contract.routed_p90_events(spark, sf),
                {"max_exchanges": 12})
    ok &= audit("dup spans: (doc,hash) pre-agg + count join, NO per-hash window",
                contract.dup_span_stats_documents(spark, sf),
                {"max_exchanges": 5, "no_window": True})
    ok &= audit("bpe word freq: single agg shuffle + bounded topk",
                contract.bpe_word_freq_documents(spark, sf),
                {"max_exchanges": 2, "take_ordered": True})
    ok &= audit("pack chunks: one window sort family, integer-only",
                contract.pack_chunks_documents(spark, sf),
                {"max_exchanges": 2})
    # span table consumed by dup-hash semi-join AND token rebuild; the
    # rebuild side joins covered positions back — keyed joins only
    ok &= audit("strip dup spans: dup-hash semi-join + position join, no window",
                contract.strip_dup_spans_documents(spark, sf),
                {"max_exchanges": 7, "no_window": True})
    ok &= audit("contamination: broadcast-eligible benchmark probe",
                contract.contamination_documents(spark, sf),
                {"max_exchanges": 5})

    # round-4 additions
    ok &= audit("strip segments: pre-agg + doc-keyed islands, no hash window",
                contract.strip_dup_spans_segments_documents(spark, sf),
                {"max_exchanges": 8, "no_window": False})
    ok &= audit("contamination spans: semi-join probe, keyed only",
                contract.contamination_spans_documents(spark, sf),
                {"max_exchanges": 5})
    ok &= audit("ngram counts: ONE agg shuffle + window on aggregated rows",
                contract.ngram_counts_documents(spark, sf),
                {"max_exchanges": 3})
    # routed series: per-tier pruned scans unioned, one grain agg
    from chainalytic_framework_spark.operators.router import read_routed_series

    lang = ("lang",)
    lang_tiers = {"1m": rollup_with_spec(obs, DEFAULT_SET, "1m", keys=lang)}
    for child, parent in DEFAULT_SET.cascade_pairs():
        lang_tiers[child] = downsample_with_spec(lang_tiers[parent], DEFAULT_SET, child, keys=lang)
    ok &= audit("routed series: pruned per-tier branches + one grain agg",
                read_routed_series(lang_tiers, 1704067200, 1704240000, "1h",
                                   keys=lang),
                {"max_exchanges": 4})

    # round-5 additions
    # 4 exchanges: batch agg + edge agg + the edge fixture's replay-dedup
    # distinct (part of the TEST construction) + final union alignment;
    # the merge itself adds only the broadcast of the covered-bucket set
    ok &= audit("serve merge (history+edge): covered set broadcast, edge never shuffles",
                contract.serve_tier_merge_events(spark, sf),
                {"broadcast": True, "max_exchanges": 4})
    ok &= audit("idf shift: vocab-keyed self-join, broadcast n_docs, no window",
                contract.idf_shift_documents(spark, sf),
                {"broadcast": True, "no_window": True})
    # ngram top-k is TWO windows now (per-shard prune -> bounded final):
    # the final window's input is <= SHARDS*k rows, never the vocabulary
    ok &= audit("ngram counts two-phase topk: sharded prune bounds final window",
                contract.ngram_counts_documents(spark, sf),
                {"max_exchanges": 4})
    # OHLC cascade: two plain hash-agg shuffles (1m partials -> 1h merge),
    # no window/sort anywhere — min_by/max_by keep ordering inside the agg
    ok &= audit("ohlc cascade: two agg shuffles, no window, no sort",
                contract.ohlc_1h_events(spark, sf),
                {"max_exchanges": 2, "no_window": True})
    # same bound through the metric-set registry: struct-partial candles
    # must keep the identical two-phase hash-agg shape (no window/sort)
    ok &= audit("candles via registry: two agg shuffles, no window",
                contract.candles_registry_1h_events(spark, sf),
                {"max_exchanges": 2, "no_window": True})
    ok &= audit("state durations: one key window shuffle + one agg shuffle",
                contract.state_durations_events(spark, sf),
                {"max_exchanges": 2})
    # MAD: per-key stats frames broadcast back — the fact side never
    # shuffles for a join. 7 exchanges = 3 hash-agg shuffles carrying
    # per-key rows (med, mad, final) + broadcast exchanges of the tiny
    # stats frames (the med subtree is re-planned per reference; each
    # carries ONE ROW PER KEY, irrelevant at any scale)
    ok &= audit("mad anomaly: stats broadcast, fact never join-shuffles",
                contract.mad_anomaly_events(spark, sf),
                {"max_exchanges": 7, "broadcast": True, "no_window": True})
    # linfit is ONE map-side-combinable hash agg: no window, no sort,
    # a single exchange — the sufficient statistics fold associatively
    ok &= audit("trend linfit: single agg shuffle, no window",
                contract.trend_slope_events(spark, sf),
                {"max_exchanges": 1, "no_window": True})
    # acf = hourly agg + bucket-key self-join + linfit agg; the join
    # reuses the hourly agg's partitioning where possible — bounded
    ok &= audit("acf lag join: bounded shuffles, no cartesian, no window",
                contract.acf_daily_events(spark, sf),
                {"max_exchanges": 4, "no_window": True})
    # changepoint: hourly agg shuffle + one key-partitioned window
    # family + one struct-max agg on the same partitioning
    ok &= audit("changepoint: agg + same-key window, bounded",
                contract.changepoint_events(spark, sf),
                {"max_exchanges": 3})
    # interp serve: union(obs, grid) through ONE key-window family —
    # no per-point probe join anywhere in the plan
    ok &= audit("interp_at: union + one window family, no point joins",
                contract.interp_at_events(spark, sf),
                {"max_exchanges": 4, "no_cartesian": True})
    # explode-into-roles pivot: ONE scan (a self-join shape re-read the
    # input 3x), two bounded shuffles after the hourly agg
    ok &= audit("seasonal backtest: single scan, explode pivot, no join",
                contract.seasonal_backtest_events(spark, sf),
                {"max_exchanges": 3, "no_window": True})
    ok &= audit("calendar rollup: single agg shuffle",
                contract.calendar_rollup_events(spark, sf),
                {"max_exchanges": 1, "no_window": True})
    ok &= audit("gap stats: one key window shuffle + one agg",
                contract.gap_stats_events(spark, sf),
                {"max_exchanges": 2})
    # single scan: conditional (key,bin) agg -> key-window totals ->
    # final key agg; rows bounded by keys x bins after the first agg
    ok &= audit("psi drift: one scan, three bounded shuffles",
                contract.psi_drift_events(spark, sf),
                {"max_exchanges": 3})
    # running sum + running max share one window family; struct-max agg
    # rides the same key partitioning
    ok &= audit("drawdown: agg + one window family, bounded",
                contract.drawdown_events(spark, sf),
                {"max_exchanges": 3})
    # routed drift: pruned per-tier hist branches union into the psi
    # agg — no raw re-scan, no cartesian. 14 exchanges is the
    # LIVE-COMPOSED fixture (the 1m->1h->1d cascade re-plans inside
    # each of 2 windows x 3 tier branches, partially deduped by
    # ReuseExchange); against STORED hist_* tables each branch is one
    # pruned scan, same as the routed-quantile family
    ok &= audit("routed drift: per-tier hist branches + psi, bounded",
                contract.routed_drift_events(spark, sf),
                {"max_exchanges": 14})
    # SAX: every window partitions by the KEY (a url's series length,
    # never corpus size); word/motif groupBys are hash aggs. The word
    # table shuffles |keys| rows — no cartesian anywhere.
    ok &= audit("sax words: key-partitioned windows + hash aggs, bounded",
                contract.sax_words_events(spark, sf),
                {"max_exchanges": 5})
    ok &= audit("sax motifs: word-keyed agg on |keys| rows, bounded",
                contract.sax_motifs_events(spark, sf),
                {"max_exchanges": 6})
    # motif verify: word-keyed candidate join (|keys| rows), then
    # key/bucket-keyed verify joins + one pair agg — never all-pairs.
    # 10 bounds the persisted |keys|-row word table's materialization
    # subtree PLUS the downstream joins (persist measured 2.7x faster
    # than recomputing the word windows once per self-join side)
    ok &= audit("motif verify: banded candidates + keyed verify, no cartesian",
                contract.motif_verified_pairs_events(spark, sf),
                {"max_exchanges": 10})
    # lead-lag xcorr: self-join keyed on the (shifted) BUCKET, then one
    # pair agg — same shape as correlation_pairs, never keyspace-keyed
    ok &= audit("lead-lag xcorr: bucket-keyed join + pair agg, no cartesian",
                contract.xcorr_lead_events(spark, sf),
                {"max_exchanges": 5})
    # recrawl: pre-agg -> key window -> key agg; the window's hash
    # partitioning on user_id satisfies the final groupBy (no re-shuffle)
    ok &= audit("recrawl schedule: one key shuffle family end-to-end",
                contract.recrawl_schedule_events(spark, sf),
                {"max_exchanges": 3})
    # temperature resample: group counts broadcast onto the fact; the
    # keep test is a scan-side filter — the fact table never shuffles
    # (the 2 exchanges are the small COUNT side's agg + its broadcast)
    ok &= audit("temperature resample: counts broadcast, fact unshuffled",
                contract.temperature_sample_documents(spark, sf),
                {"max_exchanges": 2, "broadcast": True})
    # anchor index: explode + (dst,term) agg + dst agg — two bounded
    # keyed shuffles, no window, no join
    ok &= audit("anchor index: explode + two hash aggs, no window/join",
                contract.anchor_text_index_documents(spark, sf),
                {"max_exchanges": 2, "no_window": True})
    # fetch plan: recrawl's key shuffle family + ONE host shuffle whose
    # hash partitioning feeds both the rank and running-max windows
    # (greedy recurrence as closed form — no sequential fold)
    ok &= audit("fetch plan: key family + one host window family",
                contract.fetch_plan_events(spark, sf),
                {"max_exchanges": 4})
    # robots: rules side (tiny) does the parse windows and broadcasts;
    # the frontier's only exchange is the group-back-to-one-row agg
    ok &= audit("robots gate: rules broadcast, frontier never join-shuffles",
                contract.robots_allowed_documents(spark, sf),
                {"broadcast": True})
    # sitemap seed: explode-parse is shuffle-free; the state diff is one
    # keyed join of two |urls|-row frames (co-located under bucketing)
    ok &= audit("sitemap seed: parse shuffle-free + one keyed state join",
                contract.sitemap_frontier_documents(spark, sf),
                {"max_exchanges": 4})
    # burst windows: hourly agg + one key-partitioned window family
    # (RANGE baseline + islands row_number share the key partitioning)
    ok &= audit("burst windows: one agg + one key window family",
                contract.burst_windows_events(spark, sf),
                {"max_exchanges": 3})
    # spearman: reference series broadcast; rank windows + final agg all
    # ride the same event_type partitioning
    ok &= audit("spearman: broadcast reference + one key window family",
                contract.spearman_daily_events(spark, sf),
                {"broadcast": True, "max_exchanges": 5})
    # entropy: (key,cat) hash agg -> key window -> key agg; bounded by
    # keys x categories after the first map-side-combinable agg
    ok &= audit("entropy: two bounded aggs + key window, no join",
                contract.entropy_by_source_documents(spark, sf),
                {"max_exchanges": 4})
    # distinctive terms: the (group,term) count table is persisted so the
    # corpus explode runs ONCE and its three consumers (term-total
    # window, group totals, grand total) read the cache; totals broadcast;
    # shard-pruned top-k never sorts a vocabulary in one task
    dt_plan = (contract.distinctive_terms_documents(spark, sf)
               ._jdf.queryExecution().executedPlan().toString())
    dt_ok = (dt_plan.count("InMemoryTableScan") >= 3
             and "BroadcastExchange" in dt_plan
             and "CartesianProduct" not in dt_plan)
    print(("OK " if dt_ok else "BAD")
          + f" distinctive terms: cached-count readers="
            f"{dt_plan.count('InMemoryTableScan')} "
            f"bcast={'BroadcastExchange' in dt_plan}")
    ok &= dt_ok
    # theil-sen: key-partitioned self-join (pairs quadratic in series
    # length only) + one key window family; never a cartesian
    ok &= audit("theil-sen: keyed pair self-join + key window family",
                contract.theil_sen_daily_events(spark, sf),
                {"max_exchanges": 5})
    # acf spectrum: one lag-join shuffle family + one (key,lag) suffstat
    # agg; the explode fan-out is len(lags), never a rescan per lag
    ok &= audit("acf spectrum: single lag-join family, (key,lag) agg",
                contract.acf_spectrum_events(spark, sf),
                {"max_exchanges": 4})
    # vocab overlap: term-keyed intersection self-join (pairs bounded by
    # C(n_groups,2) per term) + broadcast sizes; never cartesian
    ok &= audit("vocab overlap: term-keyed set join, sizes broadcast",
                contract.vocab_overlap_documents(spark, sf),
                {"broadcast": True})
    # new-vs-returning: distinct + first-seen on the same entity keys;
    # the only unpartitioned window runs over bucket-count rows
    ok &= audit("new-vs-returning: entity-keyed aggs + tiny final window",
                contract.new_vs_returning_events(spark, sf),
                {"max_exchanges": 6})
    # containment: shingle-keyed intersection + id-keyed size joins —
    # the ngram_jaccard shape; never cartesian
    ok &= audit("containment: shingle-keyed set join, no cartesian",
                contract.containment_pairs_documents(spark, sf),
                {"max_exchanges": 12})
    # cluster-size histogram: two map-side-combinable aggs; output bounded
    # by max cluster size (audited standalone — the contract query's
    # exchange count is dominated by the upstream components fixpoint,
    # which has its own star-round audit above)
    from chainalytic_framework_spark.operators.components import (
        cluster_size_histogram,
    )
    groups_df = spark.read.parquet(f"{sf}/documents.parquet").select(
        "doc_id", (F.col("doc_id") % 97).alias("group_id")
    )
    ok &= audit("cluster sizes: two-level map-side-combinable agg",
                cluster_size_histogram(groups_df),
                {"max_exchanges": 2})
    # trimmed mean: ONE shuffle on the group keys — the rank window and
    # the final agg share the same partitioning
    ok &= audit("trimmed mean: rank window + agg share one exchange",
                contract.trimmed_mean_daily_events(spark, sf),
                {"max_exchanges": 1})
    # tier coverage: distinct + group-bounded lag window (≤1440 rows per
    # group) + agg reusing the window partitioning
    ok &= audit("tier coverage: distinct + bounded window, shared keys",
                contract.tier_coverage_1m_events(spark, sf),
                {"max_exchanges": 2})
    # M4 downsample: ONE partial-aggregated shuffle; the per-bucket point
    # explode happens post-agg with no further exchange
    ok &= audit("m4 downsample: single agg shuffle, post-agg explode",
                contract.m4_downsample_events(spark, sf),
                {"max_exchanges": 1})
    # Hampel despike: ONE series-key window shuffle; median/MAD are
    # codegen'd array ops inside the frame, no Python, no extra exchange
    ok &= audit("hampel despike: single window shuffle, array ops",
                contract.hampel_despike_events(spark, sf),
                {"max_exchanges": 1})
    # phrase search: 2 phrases x (index build 2 aggs + doc-grain agg);
    # term filters push below the index aggs (term is a grouping key),
    # so each branch scans only its terms' postings; never cartesian
    ok &= audit("phrase search: pruned index branches, bounded aggs",
                contract.phrase_search_documents(spark, sf),
                {"max_exchanges": 8})
    # edit-distance verify: candidate pairs (shingle-keyed, bounded) +
    # two id-keyed text joins; DP cost bounded by candidate count
    ok &= audit("edit distance: candidate-bounded id joins, no cartesian",
                contract.edit_distance_pairs_documents(spark, sf),
                {"max_exchanges": 12})
    # dup-span single-explode claim (VERDICT r4 item 5): with AQE off the
    # static rule must emit a ReusedExchange for the (doc,hash) pre-agg —
    # both the corpus-count branch and the probe branch hang off ONE
    # exchange, so the span explode is computed once. (With AQE on, the
    # runtime stage cache achieves the same; measured sf0.1: persisting
    # the pre-agg is ~0.4s SLOWER than relying on reuse.)
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    dplan = (contract.dup_span_stats_documents(spark, sf)
             ._jdf.queryExecution().executedPlan().toString())
    d_ok = dplan.count("ReusedExchange") >= 1 and dplan.count("Generate explode") == 1
    print(("OK " if d_ok else "BAD")
          + f" dup spans reuse: ReusedExchange={dplan.count('ReusedExchange')} "
            f"explodes={dplan.count('Generate explode')}")
    ok &= d_ok
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    # BM25 from the stored-index layout: per-term df and the 1-row corpus
    # stats ride as broadcasts (fact postings never shuffle for them);
    # top-k is TakeOrderedAndProject, never a global sort
    ok &= audit("bm25: broadcast df/stats, bounded postings agg, top-k",
                contract.bm25_search_documents(spark, sf),
                {"max_exchanges": 14, "broadcast": True, "take_ordered": True})
    # RRF fusion: two top-50 rank lists (each TakeOrdered-bounded) union
    # into one tiny groupBy — fusion cost never scales with the corpus
    ok &= audit("rrf hybrid: rank-list union, no cartesian, top-k",
                contract.rrf_hybrid_documents(spark, sf),
                {"max_exchanges": 16, "take_ordered": True})
    # Heaps curve: explode -> min-agg (map-side combine) -> batch agg;
    # the cumulative window runs over the #batches axis only
    ok &= audit("vocab growth: two keyed aggs, small-axis window",
                contract.vocab_growth_documents(spark, sf),
                {"max_exchanges": 4})
    # DTW: the all-pairs variant must plan as BroadcastNestedLoopJoin
    # (the small-axis contract), NEVER a shuffled CartesianProduct; the
    # DP itself is one mapInPandas stage that never shuffles. 14 =
    # 5 broadcasts + 9 shuffles (the zero-fill spine's shared agg
    # subtree prints per branch at this scale; stored tiers replace it
    # in production reads)
    ok &= audit("dtw pairs: BNLJ all-pairs, no cartesian, one Arrow stage",
                contract.dtw_pairs_events(spark, sf),
                {"max_exchanges": 14, "broadcast": True})
    # link degrees: two keyed aggs + one host-grain join, no cartesian,
    # no window (6 = dedup + 2 agg + join sides at this scale)
    ok &= audit("link degrees: keyed aggs on collapsed host grain",
                contract.link_degree_documents(spark, sf),
                {"max_exchanges": 6, "no_window": True})
    # pagerank: per-round keyed joins/aggs only — the rank vector is
    # never collected; the 1-row dangling aggregate must broadcast and
    # there must be no cartesian at any round
    ok &= audit("pagerank: iterative keyed joins, broadcast dangling scalar",
                contract.pagerank_hosts_documents(spark, sf),
                {"broadcast": True, "no_window": True})
    # STL: one daily agg + trend window (key) + phase window
    # (key, phase) — single pass, both windows key-bounded, no
    # duplicated subtree, no join.
    ok &= audit("stl: single-pass key-bounded window family",
                contract.stl_daily_events(spark, sf),
                {"max_exchanges": 3, "broadcast": False})
    # STL anomaly: the STL frame is persisted so mad_anomaly's three
    # consumers read the cache (no per-branch replay of the decompose);
    # the key-grain median/MAD frames join back as broadcasts.
    sa_plan = (contract.stl_anomaly_events(spark, sf)
               ._jdf.queryExecution().executedPlan().toString())
    sa_ok = (sa_plan.count("InMemoryTableScan") >= 3
             and "BroadcastExchange" in sa_plan
             and "CartesianProduct" not in sa_plan)
    print(("OK " if sa_ok else "BAD")
          + f" stl anomaly: cached-stl readers="
            f"{sa_plan.count('InMemoryTableScan')} "
            f"bcast={'BroadcastExchange' in sa_plan}")
    ok &= sa_ok
    # boilerplate: hash-keyed (doc,group,hash) pre-agg, group sizes
    # broadcast, semi-join probe — no per-hash window (the dup-span
    # skew guard), no cartesian.
    ok &= audit("boilerplate: grouped-df aggs + broadcast thresholds, no window",
                contract.boilerplate_strip_documents(spark, sf),
                {"broadcast": True, "no_window": True, "max_exchanges": 8})
    # batch novelty: explode → hash min-agg → h-keyed join → batch agg;
    # no window anywhere (the hot-shingle probe is AQE's skew case, not
    # a per-key sort), no cartesian.
    ok &= audit("batch novelty: hash min-agg + keyed probe, no window",
                contract.batch_novelty_documents(spark, sf),
                {"no_window": True, "max_exchanges": 6})
    # crawl budget: two scalar aggs drive a two-phase top-R rank; the
    # global rank window sees only the per-shard survivors, and the
    # bonus set joins back broadcast (R·shards rows ≪ hosts).
    ok &= audit("crawl budget: two-phase top-R, bonus set broadcast back",
                contract.crawl_budget_events(spark, sf),
                {"broadcast": True})
    # trending: one map-side-combinable hash agg, then
    # TakeOrderedAndProject — never a global sort or window.
    ok &= audit("trending: hash agg + TakeOrderedAndProject, no window",
                contract.trending_users_events(spark, sf),
                {"take_ordered": True, "no_window": True, "max_exchanges": 2})
    # concentration: the only windows run over the count-of-counts
    # table (distinct weight VALUES); the unit axis is never sorted.
    ok &= audit("concentration: windows on count-of-counts only",
                contract.host_concentration_events(spark, sf),
                {"max_exchanges": 5})
    # ASAP smoothing: the whole candidate grid rides ONE series-keyed
    # sort (sibling rolling frames); stats/choice/SMA branches hang off
    # the SAME rolled subtree so the scan+pre-agg exchange is reused at
    # runtime (verified: 2 ReusedExchange in the final AQE plan — the
    # static string below still prints each branch's exchange, hence
    # the cap of 8); the user_id<20 filter must reach the scan and the
    # one-row-per-key chosen side must broadcast.
    ok &= audit("asap: shared rolled subtree, pushed filter, bcast join",
                contract.asap_smooth_events(spark, sf),
                {"max_exchanges": 8, "pushed_filters": True,
                 "broadcast": True, "no_cartesian": True})
    # KMV: the pair join is over one-row-per-key sketch arrays — a
    # broadcast nested-loop on the < condition is the plan we WANT;
    # a CartesianProduct (unbroadcast all-pairs) is the failure mode.
    # The sketch frame is persisted (contract.kmv_overlap_events), so
    # the exchanges in the text live inside the ONE-SHOT InMemoryRelation
    # build — both join sides must read the cache, not rebuild it.
    ok &= audit("kmv overlap: sketch-sized bcast pair join, no cartesian",
                contract.kmv_overlap_events(spark, sf),
                {"max_exchanges": 8, "no_cartesian": True,
                 "broadcast": True,
                 "must_contain": ("InMemoryTableScan",
                                  "BroadcastNestedLoopJoin")})
    # alert episodes: window family + groupBy share the key prefix;
    # the whole plan is two exchanges (daily pre-agg, then the
    # window/episode agg) — no per-episode or global window
    ok &= audit("alert episodes: one window family + bounded aggs",
                contract.alert_episodes_events(spark, sf),
                {"max_exchanges": 3, "pushed_filters": True,
                 "no_cartesian": True})
    # contribution: ONE scan (both range sums as sibling conditional
    # aggs), key-cardinality output, 1-row total broadcast back — the
    # cross join must be the broadcast scalar, never a real cartesian
    # the per-key frame is persisted (column pruning defeats exchange
    # reuse between the total and output branches): both must read the
    # cache, never rebuild the scan
    ok &= audit("contribution: one scan, sibling range aggs, bcast total",
                contract.contribution_events(spark, sf),
                {"max_exchanges": 5, "broadcast": True,
                 "no_window": True,
                 "must_contain": ("InMemoryTableScan",)})
    spark.stop()
    print("plan audit:", "ALL OK" if ok else "FAILURES")
    return 0 if ok else 1


if __name__ == "__main__":
    raise SystemExit(main())
