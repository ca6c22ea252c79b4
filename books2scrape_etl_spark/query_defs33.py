"""Wave-12–22 evidence-packing suites (round-8 window rotation).

Waves 12–22 added 54 oracle-paired qnames in round 7 — far more than
one 50-slot driver window can hold as singles. These five suites pack
31 of the cheap ones (the heavy / iterative / scale-variant singles
keep direct slots) so every wave-12–22 qname earns a hard driver row
in round 8.

Each suite is one slot table passed to ``suites.register_suite``
(the suite contract and the normalized schema are documented there).
The tables stay module constants: tests import them.
"""

from __future__ import annotations

# Registration-order deps: each suite wraps oracles from waves 12-22.
from books2scrape_etl_spark import query_defs12 as _dep12  # noqa: F401,E402
from books2scrape_etl_spark import query_defs13 as _dep13  # noqa: F401,E402
from books2scrape_etl_spark import query_defs14 as _dep14  # noqa: F401,E402
from books2scrape_etl_spark import query_defs15 as _dep15  # noqa: F401,E402
from books2scrape_etl_spark import query_defs16 as _dep16  # noqa: F401,E402
from books2scrape_etl_spark import query_defs17 as _dep17  # noqa: F401,E402
from books2scrape_etl_spark import query_defs18 as _dep18  # noqa: F401,E402
from books2scrape_etl_spark import query_defs19 as _dep19  # noqa: F401,E402
from books2scrape_etl_spark import query_defs20 as _dep20  # noqa: F401,E402
from books2scrape_etl_spark import query_defs21 as _dep21  # noqa: F401,E402
from books2scrape_etl_spark import query_defs22 as _dep22  # noqa: F401,E402

from books2scrape_etl_spark.suites import register_suite, width as _width  # noqa: E402


# ---------------------------------------------------------------------
# wave12_suite — the seven cheap wave-12 singles (ts_gapfill, ohlc_bars,
# feature_hashing, quantile_normalize_scale, kmeans_invariants and
# stream_static_join keep direct slots).
# ---------------------------------------------------------------------

_W12 = _width(2, 4, 4)
_W12_SECTIONS: dict[str, dict[str, str]] = {
    "rolling_active": {"n1": "day", "n2": "dau", "n3": "wau"},
    "pmi_collocations": {
        "s1": "w1", "s2": "w2",
        "n1": "cxy", "n2": "cx", "n3": "cy", "n4": "rnk",
        "d1": "ratio",
    },
    "robust_outliers": {
        "s1": "event_type",
        "n1": "n", "n2": "n_outliers",
        "d1": "med", "d2": "mad",
    },
    "quantile_normalize": {
        "s1": "event_type", "n1": "event_id", "d1": "value", "d2": "q",
    },
    "gini_diversity": {
        "n1": "user_id", "n2": "n_events", "n3": "n_types", "d1": "gini",
    },
    "source_overlap": {
        "s1": "src_a", "s2": "src_b",
        "n1": "n_common", "n2": "nv_a", "n3": "nv_b",
        "d1": "jaccard",
    },
    "grouped_regression": {
        "s1": "event_type", "n1": "n",
        "d1": "sx", "d2": "sy", "d3": "slope", "d4": "intercept",
    },
}


# Wave-12 analytics in one window slot: rolling_active (aligned
# DAU/WAU), pmi_collocations, robust_outliers (median/MAD),
# quantile_normalize (percent_rank), gini_diversity, source_overlap
# (pairwise vocab Jaccard), grouped_regression (closed-form OLS).
register_suite("wave12_suite", _W12, _W12_SECTIONS)


# ---------------------------------------------------------------------
# wave13_14_suite — wave-13/14 singles (sessionize_batch,
# graph_triangles, mv_incremental and inverted_index keep direct
# slots).
# ---------------------------------------------------------------------

_W1314 = _width(2, 4, 4)
_W1314_SECTIONS: dict[str, dict[str, str]] = {
    "event_transitions": {
        "s1": "prev_type", "s2": "cur_type", "n1": "n", "n2": "n_users",
    },
    "skyline_pareto": {"n1": "size", "n2": "n_parts", "d1": "price"},
    "assoc_rules": {
        "s1": "ante", "s2": "cons",
        "n1": "n_ab", "n2": "n_ante", "n3": "n_cons", "n4": "n_baskets",
        "d1": "confidence", "d2": "lift",
    },
    "chi_square": {
        "s1": "lang", "s2": "source",
        "n1": "observed", "n2": "row_total", "n3": "col_total", "n4": "n_total",
        "d1": "expected", "d2": "contrib",
    },
    "acf_lags": {"s1": "event_type", "n1": "lag", "n2": "n", "d1": "acf"},
    "ab_lift": {
        "n1": "n0", "n2": "c0", "n3": "n1", "n4": "c1",
        "d1": "rate0", "d2": "rate1", "d3": "lift", "d4": "z",
    },
    "session_paths": {"s1": "path", "n1": "n_sessions", "n2": "n_users"},
}


# Wave-13/14 analytics in one window slot: event_transitions (Markov
# matrix), skyline_pareto, assoc_rules (confidence/lift), chi_square
# contingency, acf_lags (autocorrelation), ab_lift (two-proportion z),
# session_paths (top gap-session type paths).
register_suite("wave13_14_suite", _W1314, _W1314_SECTIONS)


# ---------------------------------------------------------------------
# wave15_16_suite — wave-15/16 singles (graph_bfs, pca_gram and
# ts_interp keep direct slots).
# ---------------------------------------------------------------------

_W1516 = _width(2, 3, 6)
_W1516_SECTIONS: dict[str, dict[str, str]] = {
    "rfm_segments": {
        "n1": "segment", "n2": "n_cust", "n3": "total_cents", "d1": "avg_cents",
    },
    "benford_digits": {
        "n1": "digit", "n2": "n_obs",
        "d1": "share_obs", "d2": "share_exp", "d3": "chi_cell",
    },
    "hll_distinct": {"s1": "event_type", "n1": "exact_users", "n2": "within_bound"},
    "ks_test": {
        "s1": "g1", "s2": "g2",
        "n1": "n1", "n2": "n2", "n3": "reject",
        "d1": "d_stat", "d2": "at_value", "d3": "d_crit",
    },
    "welch_ttest": {
        "s1": "g1", "s2": "g2", "n1": "n1", "n2": "n2",
        "d1": "mean1", "d2": "mean2", "d3": "var1", "d4": "var2",
        "d5": "t_stat", "d6": "df_welch",
    },
    "graph_walks": {"n1": "seed", "n2": "step", "n3": "node"},
}


# Wave-15/16 analytics in one window slot: rfm_segments,
# benford_digits (first-digit law), hll_distinct (sketch error-bound
# audit), ks_test, welch_ttest, graph_walks (deterministic hash-driven
# random walks).
register_suite("wave15_16_suite", _W1516, _W1516_SECTIONS)


# ---------------------------------------------------------------------
# wave20_21_suite — wave-20/21 singles (distinctive_terms keeps a
# direct slot).
# ---------------------------------------------------------------------

_W2021 = _width(1, 3, 3)
_W2021_SECTIONS: dict[str, dict[str, str]] = {
    "rolling_slope": {"s1": "event_type", "n1": "day", "n2": "n", "d1": "slope"},
    "funnel_latency": {
        "s1": "transition", "n1": "n_users", "n2": "max_s",
        "d1": "p50_s", "d2": "p90_s",
    },
    "skew_profile": {
        "s1": "key_name", "n1": "n_keys", "n2": "n_rows", "n3": "max_cnt",
        "d1": "p50_cnt", "d2": "top_share", "d3": "skew_ratio",
    },
    "ship_delay": {
        "s1": "o_orderpriority", "n1": "n_lines", "n2": "max_days",
        "d1": "p50_days", "d2": "p90_days", "d3": "mean_days",
    },
    "interarrival_stats": {
        "s1": "event_type", "n1": "n_gaps", "n2": "max_s",
        "d1": "p50_s", "d2": "p90_s", "d3": "mean_s",
    },
    "dup_rate_by_source": {
        "s1": "source", "n1": "n_docs", "n2": "n_unique", "n3": "n_dups",
        "d1": "dup_rate",
    },
    "dow_profile": {
        "s1": "event_type", "n1": "dow_iso", "n2": "n",
        "d1": "share", "d2": "lift_vs_uniform",
    },
}


# Wave-20/21 analytics in one window slot: rolling_slope,
# funnel_latency, skew_profile, ship_delay, interarrival_stats,
# dup_rate_by_source, dow_profile — all percentile/rollup shapes whose
# doubles are hash-safe in the singles.
register_suite("wave20_21_suite", _W2021, _W2021_SECTIONS)


# ---------------------------------------------------------------------
# wave22_suite — all four wave-22 singles.
# ---------------------------------------------------------------------

_W22 = _width(2, 2, 2)
_W22_SECTIONS: dict[str, dict[str, str]] = {
    "hhi_by_segment": {
        "s1": "c_mktsegment", "n1": "n_cust", "n2": "total_dollars",
        "d1": "hhi", "d2": "effective_n",
    },
    "pareto_coverage": {
        "n1": "n_top", "n2": "n_customers", "d1": "base_share", "d2": "cum_share",
    },
    "ngram_containment": {
        "s1": "src_a", "s2": "src_b", "n1": "n_inter", "n2": "size_a",
        "d1": "containment",
    },
    "anomaly_days": {
        "s1": "event_type", "n1": "day", "n2": "n", "d1": "mean_n", "d2": "zscore",
    },
}


# Wave-22 analytics in one window slot: hhi_by_segment
# (concentration), pareto_coverage (top-N revenue share),
# ngram_containment (cross-source 3-gram containment), anomaly_days
# (z-scored daily volume).
register_suite("wave22_suite", _W22, _W22_SECTIONS)
