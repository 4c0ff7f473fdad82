"""Property-based invariants (FIXTURES.md §C, SURVEY §5.2) over
randomized tick batches — hypothesis drives the generators, Spark
computes, invariants must hold for every draw."""

from __future__ import annotations

from datetime import datetime, timedelta

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from pyspark.sql import functions as F

from auto_trade_data_pipeline_spark.operators.candles import aggregate_candles
from auto_trade_data_pipeline_spark.operators.dedup import dedup_keep_last, upsert
from auto_trade_data_pipeline_spark.operators.windows import with_local_time, with_session_flags

TICKS = "symbol string, timestamp timestamp, price double, volume double, tick_id long"
BASE = datetime(2024, 1, 2, 14, 30, 0)

_spark = None


@pytest.fixture(autouse=True)
def _grab_spark(spark):
    global _spark
    _spark = spark


#: Ticks: clustered sub-second timestamps (many per bucket), duplicate
#: instants, zero volumes (null-VWAP path), two symbols.
ticks_strategy = st.lists(
    st.tuples(
        st.sampled_from(["A", "B"]),
        st.integers(min_value=0, max_value=15),       # second offset
        st.integers(min_value=0, max_value=999_999),  # microsecond
        st.floats(min_value=0.5, max_value=100, allow_nan=False, width=32),
        st.sampled_from([0.0, 1.0, 50.0, 300.0]),
    ),
    min_size=1,
    max_size=60,
)


def _df(rows):
    data = [
        (s, BASE + timedelta(seconds=sec, microseconds=us), float(p), float(v), i)
        for i, (s, sec, us, p, v) in enumerate(rows)
    ]
    return _spark.createDataFrame(data, TICKS)


_settings = settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)


@given(rows=ticks_strategy)
@_settings
def test_candle_conservation_and_ohlc_sanity(rows):
    ticks = _df(rows)
    candles = aggregate_candles(ticks, 1).collect()
    # Conservation: per-bucket volume/trade totals match the ticks.
    agg = {
        (r["symbol"], r["bucket"]): r
        for r in ticks.groupBy(
            "symbol", F.date_trunc("second", "timestamp").alias("bucket")
        )
        .agg(
            F.sum("volume").alias("v"),
            F.count("*").alias("n"),
            F.min("price").alias("lo"),
            F.max("price").alias("hi"),
        )
        .collect()
    }
    assert len(candles) == len(agg)
    for c in candles:
        t = agg[(c["symbol"], c["timestamp"])]
        assert c["volume"] == pytest.approx(t["v"])
        assert c["number_of_trades"] == t["n"]
        assert c["low"] == t["lo"] and c["high"] == t["hi"]
        assert c["low"] <= c["open"] <= c["high"]
        assert c["low"] <= c["close"] <= c["high"]
        if c["vwap"] is None:
            assert c["volume"] == 0
        else:
            assert c["volume"] > 0
            assert c["low"] - 1e-9 <= c["vwap"] <= c["high"] + 1e-9


@given(rows=ticks_strategy)
@_settings
def test_dedup_and_upsert_idempotence(rows):
    ticks = _df(rows)
    once = dedup_keep_last(ticks, ["symbol", "timestamp"], ["tick_id"])
    # Dedup is idempotent and keeps exactly one row per key.
    twice = dedup_keep_last(once, ["symbol", "timestamp"], ["tick_id"])
    assert sorted(map(tuple, once.collect())) == sorted(map(tuple, twice.collect()))
    keys = once.select("symbol", "timestamp").distinct().count()
    assert once.count() == keys
    # Upserting a batch into itself changes nothing (reference
    # re-run idempotence, src/fetch_historical_trades_nvda.py:237-248).
    merged = upsert(once, once, ["symbol", "timestamp"], ["tick_id"])
    assert sorted(map(tuple, merged.collect())) == sorted(map(tuple, once.collect()))


@given(rows=ticks_strategy, cut=st.integers(min_value=0, max_value=60))
@_settings
def test_upsert_batch_split_equivalence(rows, cut):
    """Merging an update stream in two arrival-ordered batches must
    equal merging it in one shot: the ingest pipeline's batching is an
    operational choice, not a semantic one (tick_id is the arrival
    order, so the later batch always wins key collisions either way)."""
    cut = min(cut, len(rows))
    base = _df(rows)
    data = [
        (s, BASE + timedelta(seconds=sec, microseconds=us), float(p), float(v), i)
        for i, (s, sec, us, p, v) in enumerate(rows)
    ]  # tick_id is GLOBAL arrival order; batches slice it, never renumber
    keys, order = ["symbol", "timestamp"], ["tick_id"]
    one_shot = upsert(base.limit(0), base, keys, order)
    staged = base.limit(0)
    for chunk in (data[:cut], data[cut:]):
        if chunk:
            staged = upsert(staged, _spark.createDataFrame(chunk, TICKS), keys, order)
    # `first`'s rows carry smaller tick_ids than `second`'s for any
    # shared key, so sequential (second wins) == one-shot (max tick_id).
    assert sorted(map(tuple, staged.collect())) == sorted(map(tuple, one_shot.collect()))


@given(rows=ticks_strategy)
@_settings
def test_dedup_keep_last_tie_contract(rows):
    """When order_cols tie (duplicate prices as the sort key), the
    operator must still emit exactly one row per key, and that row's
    order tuple must be the key's maximum — the deterministic part of
    the contract that holds regardless of which tied payload wins."""
    ticks = _df(rows)
    out = dedup_keep_last(ticks, ["symbol"], ["price"]).collect()
    max_price = {
        r["symbol"]: r["mx"]
        for r in ticks.groupBy("symbol").agg(F.max("price").alias("mx")).collect()
    }
    assert len(out) == len(max_price)
    for r in out:
        assert r["price"] == max_price[r["symbol"]]


@given(rows=ticks_strategy)
@_settings
def test_session_flags_partition_the_day(rows):
    flagged = with_session_flags(with_local_time(_df(rows)))
    flag_cols = [c for c in flagged.columns if c.startswith("is_")]
    total = flagged.select(
        sum(F.col(c) for c in flag_cols).alias("s")
    ).collect()
    assert all(r["s"] == 1 for r in total)


# ---------------------------------------------------------------------------
# Round-3 operators: chunking / packing / CC invariants under random input
# ---------------------------------------------------------------------------

docs_strategy = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=10_000),          # doc_id
        st.integers(min_value=0, max_value=90),              # n tokens
        st.sampled_from(["a", "b"]),                         # shard
    ),
    min_size=1,
    max_size=25,
    unique_by=lambda t: t[0],
)


@given(docs=docs_strategy, size=st.sampled_from([8, 32]), stride=st.sampled_from([5, 8, 32]))
@settings(max_examples=12, deadline=None, suppress_health_check=list(HealthCheck))
def test_chunking_covers_every_token_without_gaps(docs, size, stride):
    """Every token of every non-empty doc lands in >=1 chunk; chunk
    starts advance by exactly `stride`; only the last chunk is short."""
    from auto_trade_data_pipeline_spark.operators.clean import chunk_tokens

    if stride > size:
        stride = size  # keep the gapless-coverage contract testable
    rows = [(i, [f"t{k}" for k in range(n)], s) for i, n, s in docs]
    df = _spark.createDataFrame(rows, "doc_id long, toks array<string>, shard string")
    out = chunk_tokens(df, "toks", "doc_id", size=size, stride=stride).collect()
    by_doc: dict[int, list] = {}
    for r in out:
        by_doc.setdefault(r.doc_id, []).append(r)
    n_of = {i: n for i, n, _ in docs}
    for i, n in n_of.items():
        chunks = sorted(by_doc.get(i, []), key=lambda r: r.chunk_id)
        if n == 0:
            assert not chunks
            continue
        covered = set()
        for idx, r in enumerate(chunks):
            assert r.start_token == r.chunk_id * stride + 1
            assert r.chunk_len == min(size, n - r.start_token + 1)
            if idx < len(chunks) - 1:
                assert r.chunk_len == size or stride <= size
            covered.update(range(r.start_token, r.start_token + r.chunk_len))
        assert covered == set(range(1, n + 1))


@given(docs=docs_strategy, budget=st.sampled_from([16, 512]))
@settings(max_examples=12, deadline=None, suppress_health_check=list(HealthCheck))
def test_pack_sequences_is_contiguous_per_shard(docs, budget):
    """Prefix placement: within a shard, documents ordered by id tile
    the packed token stream with no gap and no overlap."""
    from auto_trade_data_pipeline_spark.operators.text import pack_sequences

    df = _spark.createDataFrame(
        [(i, n, s) for i, n, s in docs], "doc_id long, n_tokens long, shard string"
    )
    out = pack_sequences(df, "n_tokens", "doc_id", ["shard"], budget).collect()
    for shard in {s for _, _, s in docs}:
        rows = sorted((r for r in out if r.shard == shard), key=lambda r: r.doc_id)
        expected_prefix = 0
        for r in rows:
            assert r.seq_id * budget + r.seq_offset == expected_prefix
            expected_prefix += r.n_tokens


edges_strategy = st.lists(
    st.tuples(st.integers(0, 30), st.integers(0, 30)),
    min_size=1,
    max_size=40,
).filter(lambda es: any(u != v for u, v in es))


@given(edges=edges_strategy)
@settings(max_examples=8, deadline=None, suppress_health_check=list(HealthCheck))
def test_cc_star_equals_propagation_on_random_graphs(edges):
    """Min-label connected_components equals a pure-Python union-find:
    every node carries the minimum id of its component."""
    from auto_trade_data_pipeline_spark.operators.graph import connected_components

    es = [(u, v) for u, v in edges if u != v]
    parent: dict[int, int] = {}

    def find(x):
        while parent.setdefault(x, x) != x:
            x = parent[x]
        return x

    for u, v in es:
        ru, rv = find(u), find(v)
        parent[max(ru, rv)] = min(ru, rv)
    want = {x: find(x) for x in parent}

    df = _spark.createDataFrame(es, "id_a long, id_b long")
    got = {r.node: r.component for r in connected_components(df, max_iters=40).collect()}
    assert got == want


@given(
    rows=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=10_000),   # order key space w/ dups
            st.integers(min_value=0, max_value=365),      # day offset
        ),
        min_size=1,
        max_size=80,
        unique=True,
    ),
    parts=st.sampled_from([1, 3, 7]),
)
@_settings
def test_global_row_number_partition_invariant(rows, parts):
    """The distributed global rank must equal the single-machine
    sorted position for EVERY choice of partition count — contiguous
    1..n, no collisions, and invariant to how ranges are cut."""
    from auto_trade_data_pipeline_spark.operators.ranking import global_row_number

    data = [(k, BASE + timedelta(days=d), i) for i, (k, d) in enumerate(rows)]
    df = _spark.createDataFrame(data, "k long, ts timestamp, uid long")
    out = global_row_number(df, ["ts", "k", "uid"], num_partitions=parts).collect()
    got = {(r["k"], r["ts"], r["uid"]): r["row_num"] for r in out}
    want = {
        t: i + 1
        for i, t in enumerate(sorted(got, key=lambda t: (t[1], t[0], t[2])))
    }
    assert got == want


@given(
    rows=st.lists(
        st.tuples(
            st.sampled_from(["A", "B"]),
            st.integers(min_value=0, max_value=2),        # day
            st.integers(min_value=0, max_value=1439),     # minute of day
            st.floats(min_value=1, max_value=50, allow_nan=False, width=32),
        ),
        min_size=1,
        max_size=50,
        unique_by=lambda t: (t[0], t[1], t[2]),
    )
)
@_settings
def test_gap_fill_grid_complete_and_fill_matches_pandas(rows):
    """Gap fill on random sparse candles: the grid is exactly
    1440 x traded-days per symbol, real slots keep their close, and
    every filled slot equals pandas' ffill on the same grid."""
    import pandas as pd

    from auto_trade_data_pipeline_spark.operators.candles import gap_fill_candles

    day0 = datetime(2024, 3, 1)
    data = [
        (s, day0 + timedelta(days=d, minutes=m), float(p), float(p), float(p),
         float(p), 10.0, 1, float(p))
        for (s, d, m, p) in rows
    ]
    df = _spark.createDataFrame(
        data,
        "symbol string, timestamp timestamp, open double, high double, low double,"
        " close double, volume double, number_of_trades long, vwap double",
    )
    out = gap_fill_candles(df, seconds=60).toPandas()
    src = pd.DataFrame(data, columns="symbol timestamp open high low close volume number_of_trades vwap".split())
    for sym, g in out.groupby("symbol"):
        days = {t.normalize() for t in src[src.symbol == sym]["timestamp"]}
        assert len(g) == 1440 * len(days)
        g = g.sort_values("timestamp").reset_index(drop=True)
        grid = pd.DataFrame({"timestamp": sorted(
            d + pd.Timedelta(minutes=m) for d in days for m in range(1440)
        )})
        ref = grid.merge(src[src.symbol == sym][["timestamp", "close"]], on="timestamp", how="left")
        ref["close_ff"] = ref["close"].ffill()
        pd.testing.assert_series_equal(
            g["close_ff"], ref["close_ff"], check_names=False, check_index=False
        )
        filled = g[g["is_gap_fill"] == 1]
        assert (filled["volume"] == 0).all() and (filled["number_of_trades"] == 0).all()


# ---------------------------------------------------------------------------
# Partition invariance of the corpus itself
# ---------------------------------------------------------------------------

_INVARIANCE_QUERIES = [
    # one per load-bearing family: agg, dedup, windows, TPC-H joins,
    # LSH dedup, winnowing, percentiles, events analytics
    "candles_1s",
    "dedup_keep_last",
    "rolling_window_features",
    "tpch_q1_pricing_summary",
    "tpch_q9_product_profit",
    "percentiles_order_value",
    "dedup_near_minhash_lsh",
    "winnowing_overlap",
    "rolling_active_users",
    # round-4 second push: iterative ML training, PQ ANN, drift stats,
    # BM25 retrieval, KMV sketch algebra
    "quality_classifier_gd",
    "similarity_topk_pq",
    "distribution_drift_report",
    "bm25_retrieval_topk",
    "kmv_set_overlap",
    # round-4 third push: integer-exact PageRank, linear gap
    # interpolation, Count-Min frequency estimation, BPE training
    "graph_pagerank",
    "candles_gap_interpolate",
    "cms_heavy_hitters",
    "bpe_train_merges",
    "tick_rule_flow",
    "robust_price_stats",
    "pattern_momentum_spike",
    "graph_triangles",
    "classifier_eval_slices",
    "multimodal_png_roundtrip",
    "fuzzy_match_customers",
    "equidepth_price_histogram",
    "incremental_candle_refresh",
    "pps_sample_docs",
    "kmeans_quality_report",
    "dataset_card",
    "asof_join_next_bar",
    # round-4 fourth push: information bars (exact BIGINT prefix
    # sums), banded-range-join labeling, recursive Heikin-Ashi,
    # integer co-moment ACF, VPIN flow toxicity
    "volume_bars",
    "triple_barrier_labels",
    "heikin_ashi_candles",
    "vpin_toxicity",
    "acf_returns",
    "cusum_event_filter",
    "microstructure_metrics",
    "execution_schedule_profile",
    "hll_distinct_sketch",
    "bigram_lm_score",
    # round-4 fifth push: struct-fold Kalman recursion, pure-JVM LZ78
    # fold, PMI top-k, CDC tombstone apply, IVP integer-scaled
    # inverse-variance total, streaming-state drift counters
    "kalman_price_smooth",
    "sign_lz78_complexity",
    "pmi_collocations",
    "cdc_apply_changelog",
    "inverse_variance_weights",
    "intraday_seasonality",
    "bet_sizing_positions",
    # (ewma_beta_recursive is hash-verified at sf0.01 and sf0.1; its
    # two-symbol aligned grid is EMPTY at sf0.001, so it would be a
    # vacuous invariance row here.)
    "corwin_schultz_spread",
    "supertrend_recursive",
    "dynamic_session_window_agg",
    "attribution_first_last_touch",
    "variant_props_histogram",
    "concurrent_sessions_census",
    "hrp_cluster_allocation",
    # round-4 sixth push: FK/PK contract report, hash-bucketed A/B
    # z-test (exact integer counts; shared double formula)
    "referential_integrity_report",
    "ab_test_report",
    # round-4 sixth push, second wave: schema-evolution merged scan,
    # coupled Holt recursion, Engle-Granger pair stationarity,
    # WOE/IV binning, leave-fold-out target encoding, lead-lag scan
    "schema_evolution_merge",
    "holt_winters_smooth",
    "cointegration_scan",
    "woe_iv_report",
    "target_encoding_kfold",
    "lead_lag_xcorr",
    # round-4 seventh wave: KM censored retention, Benford forensics,
    # zipWithIndex-ranked Gini, exact-integer-snapped MI ranking
    "survival_retention_km",
    "benford_digit_audit",
    "gini_concentration",
    "mutual_info_features",
    # round-4 eighth wave: basket rule mining, rank-quintile RFM,
    # streaming per-user experiment counters
    "association_rules_basket",
    "rfm_segmentation",
    "streaming_ab_replay",
    # round-4 ninth wave: integer-tail historical VaR/ES, shared
    # exp/ln hyperbolics for the AC liquidation trajectory,
    # integer-exact Markov power iteration
    "var_es_historical",
    "almgren_chriss_schedule",
    "markov_stationary_mix",
    "seasonal_trend_decomposition",
    "pareto_frontier_orders",
    "item_item_cf",
    "forecast_eval_mase",
    "graph_bfs_levels",
    # sf0.001 exercises the empty-funnel edge: the all-NULL aggregate
    # row must be identical at any parallelism
    "funnel_latency_quantiles",
    "weighted_sample_es",
    # (ledoit_wolf_shrinkage is hash-verified at sf0.01 and sf0.1; its
    # all-symbols hourly grid is EMPTY at sf0.001 — no hour has full
    # coverage there — so it would be a vacuous invariance row.)
    # round-8/9 LLM-pipeline tier: df-threshold boilerplate flagging,
    # the packing scan (plain, sharded global bin ids, utilization
    # readout), fixed-order Neyman allocation, LSH-precision cluster
    # audit, IVF-routed semantic decontamination, Morton-interleave
    # layout stats, cluster-keyed leakage-free splitting (all
    # non-vacuous at sf0.001; the streaming twins are covered by
    # their own multi-batch==batch parity suites).
    "boilerplate_span_report",
    "sequence_packing",
    "sequence_packing_sharded",
    "packing_efficiency",
    "stratified_neyman_sample",
    "dedup_cluster_audit",
    "semantic_contamination",
    "zorder_layout_stats",
    "cluster_aware_split",
    "kmv_quantile_sketch",
]


def test_corpus_results_invariant_to_shuffle_partitions(spark, sf_small):
    """The determinism contract behind every oracle: results must be
    IDENTICAL (canonical row strings, not approx) at 1 and 32 shuffle
    partitions — summation order, window evaluation, LSH banding and
    tiebreaks all partition-independent."""
    from auto_trade_data_pipeline_spark.corpus import load_all

    reg = load_all()
    before = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        results = {}
        for parts in ("1", "32"):
            spark.conf.set("spark.sql.shuffle.partitions", parts)
            spark.catalog.clearCache()
            for name in _INVARIANCE_QUERIES:
                rows = sorted(map(str, reg[name].fn(spark, sf_small).collect()))
                results.setdefault(name, []).append(rows)
        for name, (a, b) in results.items():
            assert a == b, f"{name} changed under repartitioning"
            assert a, f"{name} returned no rows at sf0.001 — vacuous check"
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", before)
        spark.catalog.clearCache()


# ---------------------------------------------------------------------------
# Winnowing fingerprint guarantees (random corpora)
# ---------------------------------------------------------------------------

_ALPHA = "abcdefg"  # small alphabet -> heavy gram collisions on purpose


@settings(max_examples=6, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    prefix_a=st.text(_ALPHA, min_size=0, max_size=40),
    prefix_b=st.text(_ALPHA, min_size=0, max_size=40),
    shared=st.text(_ALPHA, min_size=19, max_size=60),  # >= k + w - 1 = 19
    suffix_a=st.text(_ALPHA, min_size=0, max_size=40),
    suffix_b=st.text(_ALPHA, min_size=0, max_size=40),
)
def test_winnow_shared_substring_guarantee(prefix_a, prefix_b, shared, suffix_a, suffix_b):
    """The winnowing guarantee, on random text: two documents sharing
    ANY substring of >= k + w - 1 chars have intersecting sketches,
    and each sketch obeys the density bound (a fingerprint per full
    window at most, far fewer than the gram count)."""
    from auto_trade_data_pipeline_spark.operators.text import winnow_sketch

    k, w = 12, 8
    df = _spark.createDataFrame(
        [(1, prefix_a + shared + suffix_a), (2, prefix_b + shared + suffix_b)],
        "doc_id long, text string",
    )
    sk = {r["doc_id"]: set(r["sketch"]) for r in
          winnow_sketch(df, "text", "doc_id", k=k, w=w).collect()}
    assert sk[1] & sk[2], "shared >=19-char substring must share a fingerprint"
    for doc_id, text in ((1, prefix_a + shared + suffix_a),):
        n_grams = len(text) - k + 1
        assert len(sk[doc_id]) <= max(1, n_grams - w + 1)


@settings(max_examples=8, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    docs=st.lists(
        st.lists(st.sampled_from("ab cd ef gh ij".split()), min_size=0, max_size=30),
        min_size=2,
        max_size=6,
    ),
    k=st.sampled_from([2, 3]),
)
def test_duplicated_spans_match_bruteforce(docs, k):
    """Span dedup vs a brute-force reference on random small-vocab
    corpora: the Spark spans must equal the maximal merged intervals
    of cross-document duplicated k-gram extents, per document."""
    from auto_trade_data_pipeline_spark.operators.text import duplicated_spans

    texts = [" ".join(toks) for toks in docs]
    df = _spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    got: dict[int, list] = {}
    for r in duplicated_spans(df, "text", "doc_id", k=k).collect():
        got.setdefault(r["doc_id"], []).append((r["span_start"], r["span_end"]))
    # Brute force: gram -> set of docs; dup extents; merge intervals.
    grams: dict[str, set] = {}
    for i, toks in enumerate(docs):
        for p in range(len(toks) - k + 1):
            grams.setdefault(" ".join(toks[p : p + k]), set()).add(i)
    want: dict[int, list] = {}
    for i, toks in enumerate(docs):
        ivs = [
            (p + 1, p + k)
            for p in range(len(toks) - k + 1)
            if len(grams[" ".join(toks[p : p + k])]) >= 2
        ]
        merged = []
        for s, e in ivs:  # already sorted by start
            if merged and s <= merged[-1][1]:
                merged[-1] = (merged[-1][0], max(merged[-1][1], e))
            else:
                merged.append((s, e))
        if merged:
            want[i] = merged
    got = {i: sorted(v) for i, v in got.items()}
    assert got == want


# ---------------------------------------------------------------------------
# Round-4 third-push operators vs brute-force references
# ---------------------------------------------------------------------------


@given(rows=ticks_strategy)
@_settings
def test_tick_rule_matches_bruteforce(rows):
    """Lee-Ready tick-rule classification vs a sequential Python
    reference: per-minute buy/sell/neutral volumes must agree for any
    tick batch (duplicate instants, zero-change runs, single ticks)."""
    from auto_trade_data_pipeline_spark.corpus.trade import tick_rule_flow  # noqa: F401
    from pyspark.sql.window import Window

    ticks = _df(rows)
    # Spark side: same construction as the corpus query, over this df.
    wo = Window.partitionBy("symbol").orderBy("timestamp", "tick_id")
    wrun = wo.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    dp = F.col("price") - F.lag("price").over(wo)
    side = F.last(
        F.when(F.col("dp") > 0, 1).when(F.col("dp") < 0, -1), ignorenulls=True
    ).over(wrun)
    got = {
        (r.symbol, str(r.bucket)): (r.b, r.s, r.n)
        for r in ticks.select("*", dp.alias("dp"))
        .select("symbol", "timestamp", "volume", side.alias("side"))
        .groupBy("symbol", F.date_trunc("minute", "timestamp").alias("bucket"))
        .agg(
            F.sum(F.when(F.col("side") == 1, F.col("volume")).otherwise(0.0)).alias("b"),
            F.sum(F.when(F.col("side") == -1, F.col("volume")).otherwise(0.0)).alias("s"),
            F.sum(F.when(F.col("side").isNull(), F.col("volume")).otherwise(0.0)).alias("n"),
        )
        .collect()
    }
    # Reference: sequential carry per symbol.
    ref: dict = {}
    by_sym: dict = {}
    for i, (s, sec, us, p, v) in enumerate(rows):
        from datetime import timedelta as _td

        by_sym.setdefault(s, []).append((BASE + _td(seconds=sec, microseconds=us), i, float(p), float(v)))
    for s, ts in by_sym.items():
        ts.sort()
        carry = None
        prev_price = None
        for t, _i, p, v in ts:
            if prev_price is not None and p != prev_price:
                carry = 1 if p > prev_price else -1
            prev_price = p
            key = (s, str(t.replace(second=0, microsecond=0)))
            b, sl, n = ref.get(key, (0.0, 0.0, 0.0))
            if carry == 1:
                b += v
            elif carry == -1:
                sl += v
            else:
                n += v
            ref[key] = (b, sl, n)
    assert set(got) == set(ref)
    for k in got:
        assert got[k] == pytest.approx(ref[k])


@given(rows=ticks_strategy)
@_settings
def test_interpolation_matches_pandas(rows):
    """interpolate_candles vs pandas Series.interpolate on the dense
    per-day grid: linear between real closes, carried at the edges."""
    import pandas as pd

    from auto_trade_data_pipeline_spark.operators.candles import (
        aggregate_candles,
        interpolate_candles,
    )

    c1m = aggregate_candles(_df(rows), 60)
    dense = interpolate_candles(c1m, seconds=60).collect()
    reals = {
        (r.symbol, r.timestamp): r.close for r in c1m.collect()
    }
    by_sym: dict = {}
    for r in dense:
        by_sym.setdefault(r.symbol, []).append(r)
    for sym, rs in by_sym.items():
        rs.sort(key=lambda r: r.timestamp)
        ser = pd.Series(
            [reals.get((sym, r.timestamp)) for r in rs],
            index=pd.to_datetime([r.timestamp for r in rs]),
            dtype="float64",
        )
        expect = ser.interpolate(method="linear", limit_direction="both")
        for r, e in zip(rs, expect):
            assert r.close_interp == pytest.approx(e, abs=1e-9)


# ---------------------------------------------------------------------------
# CDC apply vs a sequential dictionary replay (random changelogs)
# ---------------------------------------------------------------------------

cdc_strategy = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=6),     # key
        st.sampled_from(["U", "U", "U", "D"]),     # op (deletes rarer)
        st.integers(min_value=0, max_value=99),    # payload tag
    ),
    min_size=0,
    max_size=30,
)


@given(chg=cdc_strategy)
@_settings
def test_cdc_apply_matches_sequential_replay(chg):
    """cdc_apply == replaying the changelog row by row in seq order
    into a dict (U sets, D deletes) over the initial snapshot."""
    from auto_trade_data_pipeline_spark.operators.dedup import cdc_apply

    snap_rows = [(k, f"s{k}") for k in range(3)]
    ref = dict(snap_rows)
    for i, (k, op, tag) in enumerate(chg):
        if op == "D":
            ref.pop(k, None)
        else:
            ref[k] = f"p{tag}"
    snap = _spark.createDataFrame(snap_rows, "k long, payload string")
    if chg:
        log = _spark.createDataFrame(
            [(k, f"p{tag}" if op != "D" else None, i, op) for i, (k, op, tag) in enumerate(chg)],
            "k long, payload string, seq long, op string",
        )
        out = cdc_apply(snap, log, ["k"], ["seq"])
    else:
        out = snap
    assert {r.k: r.payload for r in out.collect()} == ref


#: Price walks with an optional leading-NULL prefix (cascaded-EMA
#: shape), one per symbol.
walk_strategy = st.tuples(
    st.integers(min_value=0, max_value=8),   # leading NULLs
    st.lists(
        st.floats(min_value=0.5, max_value=500.0, allow_nan=False, width=32),
        min_size=1,
        max_size=80,
    ),
)


@given(walk_strategy, walk_strategy, st.randoms(use_true_random=False))
@_settings
def test_scan_by_key_equals_kernels_on_any_tape(wa, wb, rnd):
    """For any tape (random walk, random leading-NULL warm-up prefix,
    two symbols, rows in any order) ``scan_by_key`` returns each
    kernel's value over the key's ordered tape, with every NaN warm-up
    row as NULL."""
    import math

    import numpy as np

    from auto_trade_data_pipeline_spark.functions import ta
    from auto_trade_data_pipeline_spark.operators.scans import scan_by_key

    def close(pdf):
        return pdf["close"].to_numpy(dtype=float)

    rows, want = [], {}
    for sym, (nulls, vals) in (("A", wa), ("B", wb)):
        seq = [None] * nulls + [float(v) for v in vals]
        rows += [(sym, i, v) for i, v in enumerate(seq)]
        arr = np.array([np.nan if v is None else v for v in seq])
        for i, pair in enumerate(zip(ta.ema(arr, 5), ta.kalman_filter(arr, 1e-5, 0.01))):
            want[(sym, i)] = tuple(None if math.isnan(x) else x for x in pair)
    rnd.shuffle(rows)
    df = _spark.createDataFrame(rows, "symbol string, i int, close double")
    out = scan_by_key(
        df, ["symbol"], "i", ["close"],
        {"e5": ("double", lambda pdf: ta.ema(close(pdf), 5)),
         "kx": ("double", lambda pdf: ta.kalman_filter(close(pdf), 1e-5, 0.01))},
    )
    assert {(r["symbol"], r["i"]): (r["e5"], r["kx"]) for r in out.collect()} == want


#: Token-count tapes for the packing scan: including zeros (empty
#: docs), counts at exactly the capacity, and oversize items.
pack_strategy = st.lists(
    st.sampled_from([0, 1, 7, 40, 99, 100, 101, 300]),
    min_size=1,
    max_size=120,
)


@given(counts=pack_strategy)
@_settings
def test_packing_invariants(counts):
    """For every tape the packing scan equals a plain greedy loop
    written here, and: bin ids start at 1 and are non-decreasing with
    steps of exactly 1; every bin's fill is <= capacity unless the bin
    holds a single oversize item; no bin is empty."""
    from auto_trade_data_pipeline_spark.operators.scans import greedy_pack, scan_by_key

    cap = 100
    df = _spark.createDataFrame(
        [("K", i, c) for i, c in enumerate(counts)],
        "k string, i int, n long",
    )
    out = scan_by_key(
        df, ["k"], "i", ["n"], {"bin": ("bigint", lambda pdf: greedy_pack(pdf["n"], cap)[0])}
    )
    rows = out.orderBy("i").collect()
    bins = [r["bin"] for r in rows]
    ref, b, fill = [], 0, 0
    for c in counts:
        if b == 0 or fill + c > cap:
            b, fill = b + 1, c
        else:
            fill += c
        ref.append(b)
    assert bins == ref
    assert bins[0] == 1
    assert all(b2 - b1 in (0, 1) for b1, b2 in zip(bins, bins[1:]))
    fills: dict[int, list[int]] = {}
    for r in rows:
        fills.setdefault(r["bin"], []).append(int(r["n"]))
    for members in fills.values():
        assert members, "empty bin"
        if sum(members) > cap:
            assert len(members) == 1 and members[0] > cap, (
                "over-capacity bin that is not a single oversize item"
            )
