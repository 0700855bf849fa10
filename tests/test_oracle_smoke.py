"""Fast oracle-parity smoke: the driver's Spark-vs-DuckDB compare on a
handful of cheap queries at sf0.001, mirroring scripts/check_correctness
(`pytest -m oracle_smoke`, < 60 s). A broken oracle mirror fails HERE in
CI instead of surfacing at round end (the dp_variance_selected near-miss
in r04 motivated this gate)."""

import importlib.util

import duckdb
import pandas as pd
import pytest

SF = "/root/testdata/sf0.001"
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]
# Cheapest representative queries: one per family (DP count/sum/selection,
# dedup, text) — each < ~5 s at sf0.001.
SMOKE = ["dp_count_public", "dp_sum_clip_per_partition",
         "dp_partition_selection", "dedup_exact", "doc_text_stats",
         # round-5 families (only queries with STATIC SQL oracles can
         # smoke at sf0.001 — generator oracles bake sf0.01 literals):
         "doc_hash_embeddings", "doc_duplicate_spans",
         "doc_chunk_windows", "doc_corpus_report",
         # round-6 families (static oracles only; bpe_encode bakes
         # sf0.01-trained merges):
         "doc_gram_novelty", "doc_source_quota", "doc_dup_rate_estimate",
         "events_zorder_key", "doc_vocab_estimate", "doc_weighted_sample",
         "dp_windowed_percentile_tree_events", "dp_trending_bigrams",
         "dp_vector_mean_public",
         # sketch batch (static oracles)
         "doc_vocab_hll", "token_freq_cms", "doc_decontaminate_bloom",
         "events_windowed_hll", "vocab_overlap_kmv",
         "doc_temperature_mix", "multimodal_phash_dedup",
         "multimodal_audio_dedup", "doc_line_dedup",
         "multimodal_video_frames", "doc_url_canonicalize",
         "multimodal_video_dedup", "multimodal_resize_stats",
         "dedup_keep_best", "stream_line_dedup_mirror", "doc_token_budget", "doc_wet_roundtrip", "doc_tar_shards", "multimodal_exif", "multimodal_mp3_meta", "doc_domain_cap", "doc_corpus_diff",
         "doc_contamination_score", "doc_normalize_text",
         # round-7 (generated SQLs here are sf-agnostic)
         "doc_language_id", "doc_nfc_normalize", "doc_gopher_filter",
         "doc_tfidf_keywords", "doc_pmi_collocations",
         "doc_code_detect", "doc_language_mix", "doc_sentence_dedup",
         "stream_sentence_dedup_mirror",
         # sim_ivf_pq_rerank_topk composes the ivf_pq generator oracle
         # (bakes sf0.01-trained quantizer literals) — cannot smoke here.
         "emb_kmeans_centroids", "emb_cluster_balanced_sample",
         "emb_int8_roundtrip", "emb_covariance", "doc_length_buckets",
         "stream_cluster_assign_mirror", "emb_hard_negatives",
         "emb_cluster_purity", "emb_triplets", "dp_cluster_counts",
         "emb_int8_recall", "emb_mmr_rerank", "events_funnel",
         "events_retention", "events_json_stats", "doc_textrank_keywords",
         "events_json_profile", "events_time_to_convert",
         "events_window_anomaly", "doc_readability",
         "doc_source_quality_report", "events_attribution",
         "events_transitions", "part_fuzzy_match",
         "lineitem_order_stats", "events_session_funnel",
         "customer_scd2",
         # round-8 (static oracles)
         "doc_duplicate_spans_exact", "dedup_minhash_prod",
         "doc_pii_audit", "doc_decontaminate_spans",
         "events_k_anonymity", "events_pseudonymize",
         "doc_leakage_safe_split", "events_parse_quarantine",
         "events_salted_join", "tpch_q1_pricing", "tpch_q3_priority",
         "tpch_q5_local_supplier", "events_rolling_features",
         "doc_exact_substr_cut", "doc_c4_filter", "emb_matryoshka_recall",
         "doc_jsonl_roundtrip", "doc_fix_mojibake", "doc_release_manifest",
         "doc_chat_render", "doc_preference_pairs", "dedup_lsh_plan",
         "events_dau_wau", "customer_upsert", "stream_upsert_mirror",
         "doc_head_coverage",
         # round-11 (static oracles)
         "multimodal_phash_takedown", "dp_private_l0_bounds",
         # round-12 (the two bm25 gate queries use the _gen_bm25_sql
         # generator — bakes sf0.01 N/avgdl literals, cannot smoke)
         "dedup_minhash_capped_bucket",
         # store lifecycles with sf-independent oracles (the ANN and
         # BM25 store oracles bake sf0.01 literals and stay on the
         # sf0.01 compare)
         "dedup_exact_incremental", "stream_exact_store_mirror",
         "dedup_incremental", "stream_near_dup_store_mirror",
         "doc_decontam_incremental", "multimodal_phash_incremental",
         # DP releases whose contribution bounding runs through the
         # shared bound resolution and the row bounder
         "dp_count_max_contributions", "dp_count_no_cross_bounding",
         "dp_sum_clip_per_contribution", "dp_percentile_public",
         "dp_vector_sum_public"]


@pytest.fixture(scope="module")
def entry_mod():
    spec = importlib.util.spec_from_file_location(
        "spark_entry_smoke", "/root/repo/__spark_entry__.py")
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet"
            f"('{SF}/{t}.parquet')")
    return con


def _norm(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if df[c].dtype.kind == "f":
            df[c] = df[c].round(4)
    return (df.astype(str).sort_values(list(df.columns))
            .reset_index(drop=True))


@pytest.mark.oracle_smoke
@pytest.mark.parametrize("name", SMOKE)
def test_oracle_smoke(spark, entry_mod, duck, name):
    sdf = entry_mod.queries()[name](spark, SF).toPandas()
    odf = duck.execute(entry_mod.oracle_sql()[name]).fetchdf()
    assert sorted(sdf.columns) == sorted(odf.columns)
    assert len(sdf) == len(odf)
    pd.testing.assert_frame_equal(_norm(sdf), _norm(odf))
