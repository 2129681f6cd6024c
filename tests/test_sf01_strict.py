"""Permanent sf0.1 strict sweep for iterative / accumulating queries.

The r6 post-mortem (cc3): ROUND of values sitting ON the rounding
lattice — the signature of iterative protocols that divide accumulated
state by small integers — hits .5 ties that Spark (HALF_UP on the
decimal string) and DuckDB (binary-value) resolve differently. The
divergence is INVISIBLE at sf0.01 (no tie happens to land on the seam)
and guaranteed at scale. So every iterative/accumulating query is
value-verified at sf0.1 — 10× the driver's correctness scale — once
per round, as a standing pre-registration gate (VERDICT r6 item 3).

Set SPARK_GRAFT_SKIP_SF01=1 to skip during tight inner-loop iteration;
the full-suite run the driver records must leave it unset.
"""

from __future__ import annotations

import os

import duckdb
import pytest

from bc_proj3_spark.plans.tables import TABLE_NAMES

SF01_DIR = os.environ.get("SPARK_GRAFT_SF01_DIR", "/root/testdata/sf0.1")

pytestmark = [
    pytest.mark.sf01,
    pytest.mark.skipif(
        os.environ.get("SPARK_GRAFT_SKIP_SF01") == "1",
        reason="sf0.1 sweep disabled via SPARK_GRAFT_SKIP_SF01",
    ),
    pytest.mark.skipif(
        not os.path.isdir(SF01_DIR), reason=f"{SF01_DIR} not present"
    ),
]

#: Iterative fixpoints (graph protocols), accumulating recursions
#: (CUSUM, EWMA), and the double-heavy estimators the r6 judge put in
#: the same blow-up-only-at-scale class. cc3 (PageRank) is the query
#: that motivated the gate; cur1 joined after its r7 exact-rank
#: threshold rewrite (boundary comparisons on derived doubles).
SF01_QUERIES = [
    # round-13 double-heavy members: a19/e28 carry >2^53 int->double
    # conversion chains (g3 class), prof4 the LN lattice, t31 a
    # double-ordered top-k
    "a19_hhi_concentration",
    "prof4_column_entropy",
    "t31_term_burstiness",
    "e28_cuped_adjusted_ate",
    # round-13 second batch: t32's KL lattice sums, e29's variance +
    # CEIL chains over >2^53 int->double images
    "t32_source_kl_drift",
    "e29_sample_size_mde",
    "mf1_als_user_factors",
    "pi1_power_iteration",
    "pi2_spectral_gap",
    "cc2_star_components",
    "cc3_pagerank",
    "cc4_bfs_distance",
    "cur1_curriculum_schedule",
    "e19_cusum_changepoint",
    "ts2_ewma",
    "d11_minhash_calibration",
    "er1_fuzzy_name_pairs",
    "s5_kmeans_assign",
    "fe2_train_scaled",
    "sp12_dsir_select",
    "s7_semantic_decontaminate",
    "t23_tokenizer_fertility",
    "s8_hard_negatives",
    "s9_ann_recall",  # double-heavy cosine rankings on both funnel sides
    "ts5_seasonal_decompose",  # ROUND of derived integer-ratio doubles
    "g3_degree_assortativity",  # >2^53 exact-int moment conversions to double
    "ts6_autocorrelation",  # >2^53 exact-int moment conversions to double
    "ts7_trend_slope",  # r2 rides products of integer moments
    "stat3_ks_test",  # scaled-integer ECDF gap grows with sample product
    "g4_rich_club",  # nk^2 decimal products convert to double
    "stat4_bootstrap_ci",  # order statistics over 20 resample-mean doubles
    "g5_effective_rank",  # double-heavy decimal-lattice Gram reductions
    "ts9_cross_correlation",  # sqrt chain over >2^53 integer moment products
    # round-8 additions in the same classes
    "a16_gini_concentration",  # >2^53 decimal moment conversions to double
    "ts10_theil_sen",  # order-statistic selection over IEEE slope doubles
    "stat5_mann_whitney",  # sqrt chain over >2^53 integer moment products
    "cal2_isotonic_calibration",  # min/max lattice over pooled-rate doubles
    "s10_pq_codes",  # double-heavy d2 argmin selections per subspace
    "g6_kcore",  # iterative peel fixpoint (cc-family class)
    "g7_jl_distortion",  # deterministic IEEE fold chains per pair
    "stat6_permutation_test",  # extreme-count compares bit-identical doubles
    # r8 second batch
    "t25_heaps_law",  # log-lattice OLS over corpus-order prefix sums
    "stat7_bh_fdr",  # m*(B+1) permutation gaps compared as doubles
    "e23_kaplan_meier",  # lattice-LN survival accumulation
    "hs2_mmr_rerank",  # greedy argmax over lattice-decimal objectives
    "g9_adamic_adar",  # 1/ln(deg) lattice sums order the top-k
    "s11_kcenter_coreset",  # farthest-point walk over lattice distances
    "e24_markov_stationary",  # iterative fixpoint (cc3 scaled-int class)
    "o8_mahalanobis_outliers",  # >2^53 exact-int adjugate conversions
    # round-9 additions
    "g11_label_propagation",  # iterative fixpoint (synchronous argmax rounds)
    "g12_modularity",  # rides g11's trajectory + exact-int contribution ratios
    "hs3_ndcg_eval",  # double-heavy cosine rankings on both funnel sides
    "t27_bpe_learn",  # iterative fixpoint (greedy merge trajectory)
    "s12_centroid_dendrogram",  # order statistics over IEEE pair distances
    "a18_theil_decomposition",  # log-lattice decimal sums (t21 class)
    # round-10 additions
    "fe5_woe_encoding",  # log-lattice smoothed odds + decimal IV sum
    "hs4_map_eval",  # double-heavy cosine rankings on both funnel sides
    "e26_ipw_uplift",  # lattice-decimal ATE terms over IEEE cell means
    "ml1_perceptron_train",  # iterative fixpoint (batch update rounds)
    "bt1_bradley_terry",  # iterative fixpoint (scaled-int MM rounds)
    "t28_textrank_keywords",  # iterative fixpoint (cc3 scaled-int class)
    "ml2_naive_bayes_confusion",  # log-lattice decimal score argmax
    "g13_hits_authorities",  # iterative fixpoint (scaled-int HITS)
    "ml3_decision_stump",  # scaled-int purity argmax over prefix sums
    # round-11 additions
    "hs5_mrr_eval",  # double-heavy cosine rankings on both funnel sides
    "cal3_expected_calibration_error",  # ROUND of derived IEEE gap doubles
    "ev2_bleu_corpus",  # log-lattice LN of corpus-ratio doubles
    "s13_dim_ablation_recall",  # double-heavy cosine rankings, two widths
    "ev3_chargram_fscore",  # F2 combination of derived IEEE ratios
    "s14_pq_adc_recall",  # double-heavy ADC distance rankings
    "ev4_brier_score",  # ROUND of derived IEEE scores into the lattice
    "rag1_context_budget",  # double-heavy cosine ranking feeds the fill
    # round-12 additions
    "lab4_dawid_skene",  # log-lattice LF weights gate the decimal argmax
    "t29_perplexity_buckets",  # rides t16's log-lattice per-doc scores
    "t30_bpe_encode",  # rides t27's iterative merge trajectory
    "e27_sequential_sprt",  # literal-lattice LLR walk crosses boundaries
    "s15_ivf_recall_curve",  # double-heavy cosine rankings per probe count
    "ev5_token_f1",  # F1 combination of derived IEEE ratios (ev3 class)
]


@pytest.fixture(scope="module")
def sf01_con():
    con = duckdb.connect()
    # Cap DuckDB's thread count for the sf0.1 oracles: at the default
    # (one per host core) the d4-CTE-embedding graph oracles
    # (cc3/g6/g11/...) thread-partition their materialized CTEs into
    # tens of GB of .tmp spill and run for an hour (measured r10 on a
    # 32-core host: >60 min / 58 GB at 32 threads vs 162 s / 0 spill
    # at 6, for cc3 before its CTEs were MATERIALIZED). With every
    # step MATERIALIZED, cc3's oracle takes ~2.5 s at 8 threads on a
    # 4-core host.
    con.execute("SET threads=8")
    for name in TABLE_NAMES:
        path = f"{SF01_DIR}/{name}.parquet"
        if os.path.exists(path):
            con.execute(
                f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{path}')"
            )
    yield con
    con.close()


@pytest.mark.parametrize("name", SF01_QUERIES)
def test_sf01_strict_values(name, spark, sf01_con):
    from bc_proj3_spark import registry
    from tests.conftest import compare_to_oracle

    spec = registry.all_queries()[name]
    try:
        compare_to_oracle(spark, sf01_con, spec, sf_dir=SF01_DIR)
    finally:
        spark.catalog.clearCache()
