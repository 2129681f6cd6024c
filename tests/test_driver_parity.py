"""Driver-parity gate: replay queries on a VANILLA SparkSession.

Round-4 post-mortem (VERDICT r4 "What's wrong" #2): all 237 local tests
were green while five driver rows were red, because every local test ran
through ``get_spark()`` whose cold-start builder confs
(inferTimestampNTZ=false among them) masked an environment seam the
driver's vanilla session exposed. A conformance suite must never be
green where the driver is red.

This test rebuilds the driver's exact posture: a FRESH JVM (subprocess —
the pytest session's JVM already has the builder confs applied and
``getOrCreate`` would reuse it), a bare ``SparkSession.builder`` with
none of the engine's confs, then ``__spark_entry__.queries()`` exactly
as the driver calls them (each builder applies apply_runtime_conf
itself — that is the layer under test). Row counts are compared against
the DuckDB oracle, so a query that silently returns wrong-shaped output
also fails, not just analysis errors.

Covers the seam-prone families: events (timestamp semantics), streaming
(withWatermark/session_window on the inferred source schema), and one
silver query (engine-written parquet timestamps, brief item 8).
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.01")

#: Queries replayed under the vanilla session. The six r4 red/latent
#: rows plus neighbors that share their input schemas.
PARITY_QUERIES = [
    "e1_hourly_rollup",
    "e2_sessionization",
    "e3_asof_attribution",
    "e4_user_value_trend",
    "e4b_trend_arrow",
    "e7_funnel",
    "e8_session_overlap",
    "st1_stream_window_counts",
    "st2_stateful_user_totals",
    "st3_stream_session_windows",
    "st4_stream_dedup",
    "sv1_scholar_date_derivation",
    # round-5 families, one cheap representative each
    "e9_rolling_active_users",
    "e10_conversion_latency",
    "w2_spend_deciles",
    "a6_histogram_quantiles",
    # round-5 second-session event-time consumers (same seam class)
    "e12_rolling_anomaly",
    "ts1_gap_fill",
    "st7_stream_static_join",
    "w3_trailing_hour_range",
    # round-5 third-session additions touching seam-prone surfaces:
    # e14 (VARIANT parse on the events scan), ts3/dq4 (unix_micros /
    # MAX over the normalized ts), sql5 (recursive-CTE executor conf
    # defaults on a vanilla session)
    "e14_variant_props",
    "ts3_ohlc_bars",
    "dq4_event_freshness",
    "sql5_recursive_spine",
]

#: The 17 queries repaired after CORRECTNESS_r05 (9 driver-red + 8
#: latent, all the same oracle output-type class — see
#: tests/test_oracle_types.py). For these, count parity is not enough:
#: the r5 defect was value-hash-level with EQUAL counts, so the replay
#: also compares a strict value digest — md5 over repr-level rows
#: (column-sorted, row-sorted), types NOT normalized away — against
#: the identical digest of the DuckDB oracle result. repr() of a
#: Python value is type-faithful (1 != 1.0 != Decimal('1')), which is
#: exactly the sensitivity the driver's type-tagged hash has and
#: conftest._norm deliberately lacks.
STRICT_VALUE_QUERIES = [
    # r11 plan rewrites pinned at -1 in the rotation (they head the
    # next driver prefix) whose families weren't already listed below —
    # the rotation plan-stability rule requires a fresh vanilla-JVM
    # pre-flight before the driver re-verifies them
    "d4_minhash_lsh_pairs",
    "d6_dedup_corpus",
    "d8_incremental_dedup",
    "d9_dedup_report",
    "t11_pmi_collocations",
    "t14_tfidf_topterms",
    "t15_skipgram_pairs",
    "s3_cosine_neardup_pairs",
    # round-13 registrations (never driver-verified until r10 mints)
    "sp17_token_budget_mix",
    "a19_hhi_concentration",
    "prof4_column_entropy",
    "t31_term_burstiness",
    "m7_modality_balance",
    "e28_cuped_adjusted_ate",
    "st14_stream_token_budget",
    "t32_source_kl_drift",
    "e29_sample_size_mde",
    "mf1_als_user_factors",
    "t18_token_entropy",
    "t19_oov_rate",
    "t20_shingle_novelty",
    "dq6_psi_drift",
    "prof2_functional_deps",
    "ts4_twap",
    "u3_bag_set_ops",
    "gen1_range_source",
    "sp8_kfold_assign",
    "a6_histogram_quantiles",
    "dq1_expectations",
    "lab2_lf_diagnostics",
    "t12_bpe_merge_pairs",
    "w2_spend_deciles",
    "r2_cube_crosstab",
    "r3_grouping_sets",
    "s6_kmeans_update",
    # round-6 new operator classes, showcased at the head of the r6
    # driver prefix — replayed here at the same strictness the driver
    # will apply (st10 exercises the streaming source-schema seam,
    # the rest the output-type contract)
    "sp9_leakage_safe_split",
    "d12_semdedup",
    "sk10_kmv_intersection",
    "stat2_welch_ttest",
    "st10_stream_sliding_windows",
    "sp11_epoch_shuffle",
    "cur1_curriculum_schedule",
    "m5_token_budget",
    "a15_distribution_moments",
    "prof3_corpus_datasheet",
    "fe3_target_encoding",
    "e19_cusum_changepoint",
    # rewritten in r6 (scaled-integer ranks) — replay at driver strictness
    "cc3_pagerank",
    # the 15 riskiest of the 48 queries rotating into the r7 driver
    # prefix (VERDICT r6 item 2): iterative fixpoints, streaming
    # drains, and double-heavy numerics — pre-flighted at exactly the
    # driver's posture (fresh vanilla JVM, type-tagged value digest)
    # so session-conf drift can't surface first in the driver run
    "pi1_power_iteration",
    "pi2_spectral_gap",
    "cc2_star_components",
    "cc4_bfs_distance",
    "st4_stream_dedup",
    "st5_stream_stream_join",
    "st6_stream_append_windows",
    "st7_stream_static_join",
    "st8_stream_apply_changes",
    "s5_kmeans_assign",
    "fe2_train_scaled",
    "cal1_reliability_bins",
    "mi1_mutual_information",
    "d11_minhash_calibration",
    "er1_fuzzy_name_pairs",
    # r7 plan rewrites re-entering the prefix at -1
    "sp11_epoch_shuffle",
    "cur1_curriculum_schedule",
    "dq2_referential_integrity",
    # r7's new operators (sort AFTER the 48 rotation slots — see
    # registry._SHOWCASE_FIRST), pre-flighted at driver strictness
    "sp12_dsir_select",
    "s7_semantic_decontaminate",
    "t23_tokenizer_fertility",
    "sp13_mix_rebalance",
    "ch3_content_defined_chunks",
    "s8_hard_negatives",
    "sp14_epoch_upsample",
    "dq8_l_diversity",
    "s9_ann_recall",
    "dp1_dp_counts",
    "ts5_seasonal_decompose",
    "lab3_annotator_agreement",
    "g3_degree_assortativity",
    "ts6_autocorrelation",
    "ts7_trend_slope",
    "ts8_dispersion",
    "stat3_ks_test",
    "dq9_t_closeness",
    "g4_rich_club",
    "t24_lexical_diversity",
    "stat4_bootstrap_ci",
    "e21_peak_concurrency",
    "a14_mad_outliers",
    "g5_effective_rank",
    "ts9_cross_correlation",
    "dp2_dp_mean",
    # r8's new operators (outside the unchanged rotation prefix),
    # pre-flighted at driver strictness before any prefix entry
    "a16_gini_concentration",
    "e22_missing_hours",
    "ts10_theil_sen",
    "stat5_mann_whitney",
    "cal2_isotonic_calibration",
    "sp15_length_bucketing",
    "s10_pq_codes",
    "g6_kcore",
    "g7_jl_distortion",
    "stat6_permutation_test",
    "pipe2_ingest_manifest",
    "t25_heaps_law",
    "stat7_bh_fdr",
    "d13_hamming_neardup_pairs",
    "e23_kaplan_meier",
    "g9_adamic_adar",
    "hs2_mmr_rerank",
    "g10_clustering_coefficient",
    "fe4_feature_hashing",
    "s11_kcenter_coreset",
    "e24_markov_stationary",
    "sk13_countsketch",
    "o8_mahalanobis_outliers",
    "m6_multimodal_packing",
    "a17_winsorized_mean",
    "st11_stream_countsketch",
    "t26_ngram_coverage",
    # r9's new operators (outside the unchanged rotation prefix),
    # pre-flighted at driver strictness before any prefix entry
    "hs3_ndcg_eval",
    "d14_span_coverage",
    "d15_ngram_decontaminate",
    "g11_label_propagation",
    "g12_modularity",
    "t27_bpe_learn",
    "s12_centroid_dendrogram",
    "a18_theil_decomposition",
    "e25_did_uplift",
    "st12_stream_decontaminate",
    # r10's new operators, same pre-flight discipline
    "dq10_quality_gates",
    "fe5_woe_encoding",
    "e26_ipw_uplift",
    "hs4_map_eval",
    "ml1_perceptron_train",
    "bt1_bradley_terry",
    "t28_textrank_keywords",
    "ml2_naive_bayes_confusion",
    "g13_hits_authorities",
    "ml3_decision_stump",
    # r11's new operators, same pre-flight discipline
    "pipe3_recipe_attrition",
    "hs5_mrr_eval",
    "cal3_expected_calibration_error",
    "ev1_pass_at_k",
    "ev2_bleu_corpus",
    "s13_dim_ablation_recall",
    "sp16_pack_efficiency",
    "ev3_chargram_fscore",
    "s14_pq_adc_recall",
    "ev4_brier_score",
    "d16_cross_split_leakage",
    "rag1_context_budget",
    "st13_stream_admission_ledger",
    # r12's new operators, same pre-flight discipline
    "lab4_dawid_skene",
    "e27_sequential_sprt",
    "t29_perplexity_buckets",
    "t30_bpe_encode",
    "s15_ivf_recall_curve",
    "ev5_token_f1",
]


def strict_digest(columns, rows) -> str:
    """md5 over the driver-grade key (type-tagged, float-quantized —
    see conftest.driver_cell for the calibration evidence)."""
    import hashlib

    from tests.conftest import strict_rows_key

    key, cols = strict_rows_key(columns, rows)
    payload = json.dumps([cols, key])
    return hashlib.md5(payload.encode()).hexdigest()

_SUBPROCESS_PROG = """
import json, sys
from pyspark.sql import SparkSession

# The driver's posture: a vanilla builder, none of the engine's confs.
spark = (
    SparkSession.builder.appName("driver-parity")
    .master("local[8]")
    .config("spark.ui.enabled", "false")
    .getOrCreate()
)
import __spark_entry__ as entrymod
from tests.test_driver_parity import strict_digest

sf_dir = sys.argv[1]
names = json.loads(sys.argv[2])
strict = set(json.loads(sys.argv[3]))
queries = entrymod.queries()
out = {}
for name in names:
    try:
        df = queries[name](spark, sf_dir)
        if name in strict:
            rows = [tuple(r) for r in df.collect()]
            out[name] = [len(rows), strict_digest(list(df.columns), rows)]
        else:
            out[name] = df.count()
    except Exception as exc:
        out[name] = f"ERROR: {exc!r}"[:300]
print("PARITY_JSON:" + json.dumps(out))
"""


#: Most concurrent parity subprocesses. Each chunk gets its OWN fresh
#: vanilla JVM (same posture per query as the single-process form —
#: sessions are process-isolated, so no shared-cache interaction
#: between chunks), and the ~170-query replay overlaps across
#: processes (the suite must fit the external verifier's pytest
#: window — VERIFY_r10 tests_ok). The replay is CPU-bound: on a 4-core
#: host it takes ~404 s in one JVM and ~356 s in two (~95 % busy).
_PARITY_PROCS_MAX = 4

#: Memory one parity JVM is given room for: a bare local[8] driver
#: (default 1g heap) reaches ~1.6 GB RSS by the end of its chunk
#: (measured on a 4-core, 16 GB host).
_PARITY_PROC_MB = 2048

#: Memory left to the pytest process (DuckDB oracles) and the suite's
#: own session JVM while the parity JVMs run.
_PARITY_RESERVE_MB = 2048


def _mem_available_mb() -> int:
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemAvailable:"):
                return int(line.split()[1]) // 1024
    return 0


def _release_session_heap() -> None:
    """Let the suite's session JVM, if one runs, return its free heap.

    Its heap grows to ~8 GB RSS over test_correctness and G1 keeps it
    committed; a full GC shrinks it. On a 16 GB host, four parity JVMs
    beside the unshrunk session filled memory and the suite thrashed
    until its time limit."""
    from pyspark import SparkContext

    sc = SparkContext._active_spark_context
    if sc is not None:
        sc._jvm.java.lang.System.gc()


def _parity_procs() -> int:
    """Concurrent parity JVMs: at most one per two of the suite's cores
    (each is a local[8] driver) and as many as the host's available
    memory holds, never fewer than one."""
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    n_cpus = int(cpus) if cpus.isdigit() else (os.cpu_count() or 1)
    by_mem = (_mem_available_mb() - _PARITY_RESERVE_MB) // _PARITY_PROC_MB
    return max(1, min(_PARITY_PROCS_MAX, n_cpus // 2, by_mem))


def _run_parity_chunk(names, env):
    proc = subprocess.run(
        [
            sys.executable,
            "-c",
            _SUBPROCESS_PROG,
            SF_DIR,
            json.dumps(names),
            json.dumps([n for n in STRICT_VALUE_QUERIES if n in names]),
        ],
        capture_output=True,
        text=True,
        timeout=900,
        env=env,
        cwd="/root/repo",
    )
    payload = None
    for line in proc.stdout.splitlines():
        if line.startswith("PARITY_JSON:"):
            payload = json.loads(line[len("PARITY_JSON:"):])
    assert payload is not None, (
        f"parity subprocess produced no result (rc={proc.returncode})\n"
        f"stdout tail: {proc.stdout[-1500:]}\nstderr tail: {proc.stderr[-1500:]}"
    )
    return payload


@pytest.fixture(scope="module")
def parity_counts():
    from concurrent.futures import ThreadPoolExecutor

    env = dict(os.environ)
    env["PYTHONPATH"] = "/root/repo" + os.pathsep + env.get("PYTHONPATH", "")
    all_names = PARITY_QUERIES + [
        n for n in STRICT_VALUE_QUERIES if n not in PARITY_QUERIES
    ]
    _release_session_heap()
    procs = _parity_procs()
    chunks = [all_names[i::procs] for i in range(procs)]
    payload: dict = {}
    with ThreadPoolExecutor(max_workers=procs) as pool:
        for part in pool.map(lambda c: _run_parity_chunk(c, env), chunks):
            payload.update(part)
    return payload


@pytest.mark.parametrize(
    "name", [n for n in PARITY_QUERIES if n not in STRICT_VALUE_QUERIES]
)
def test_vanilla_session_parity(name, parity_counts, oracle_con):
    got = parity_counts[name]
    assert not isinstance(got, str), f"{name} failed under vanilla session: {got}"

    from bc_proj3_spark import registry

    spec = registry.all_queries()[name]
    if spec.oracle:
        expect = oracle_con.execute(
            f"SELECT COUNT(*) FROM ({spec.oracle})"
        ).fetchone()[0]
        assert got == expect, (
            f"{name}: vanilla-session row count {got} != oracle {expect}"
        )
    else:
        assert got >= 0


@pytest.mark.parametrize("name", STRICT_VALUE_QUERIES)
def test_vanilla_session_strict_values(name, parity_counts, oracle_con):
    """Type-faithful value parity for the r5-repaired queries: the
    vanilla-session Spark result's repr-digest must equal the DuckDB
    oracle's — the local replica of the driver's type-tagged hash."""
    got = parity_counts[name]
    assert not isinstance(got, str), f"{name} failed under vanilla session: {got}"
    n_rows, sdigest = got

    from bc_proj3_spark import registry

    spec = registry.all_queries()[name]
    # r11: memoized — test_correctness already evaluated most of these
    # oracles at the same SF earlier in the run (conftest.oracle_eval)
    from tests.conftest import oracle_eval

    ocols, oraw = oracle_eval(oracle_con, spec.oracle, SF_DIR)
    orows = [tuple(r) for r in oraw]
    assert n_rows == len(orows), (
        f"{name}: vanilla-session rows {n_rows} != oracle {len(orows)}"
    )
    odigest = strict_digest(ocols, orows)
    assert sdigest == odigest, (
        f"{name}: strict value digest mismatch (type-tag or value drift "
        f"between vanilla-session Spark and DuckDB)"
    )
