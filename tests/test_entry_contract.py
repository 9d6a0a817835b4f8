"""Driver-contract checks: the entry module's shape, the pinned
oracle_sql() text and queries() names, and the DuckDB parity of the
queries built from entry_queries' shared BM25 helpers."""

import hashlib
import importlib.util
import inspect
import json
import os
from pathlib import Path

import pytest

SF_DIR = "/root/testdata/sf0.001"

# sha256 of json.dumps(oracle_sql(), sort_keys=True): the oracle text is
# the driver's instrument, so a refactor of entry_queries must keep it
# byte for byte
ORACLE_SQL_SHA256 = (
    "ea76d5af40063186fc46ce91670d6db12b64c49827e79ed808f3ba43306a45a2")

# registration order is part of the contract: the driver records the
# first 50 entries
QUERY_NAMES = [
    "q52_fuzzy_search", "q53_more_like_this", "q54_facet_counts",
    "q55_related_terms", "q56_zone_search", "q57_spell_suggest",
    "q58_snippets", "q59_search_after", "q60_explain", "q61_collapse",
    "q62_autocomplete", "q63_synonym_search", "q64_filtered_search",
    "q65_mixed_search", "q66_boosted_search", "q67_min_match",
    "q68_hybrid_rrf", "q69_significant_terms", "q70_regex_search",
    "q71_wildcard_search", "q72_lm_dirichlet", "q73_term_vectors",
    "q74_rescore", "q75_bool_expr", "q76_date_facet",
    "q77_diversified_topk", "q78_recency_topk", "q79_percolate",
    "q01_scan_filter", "q02_url_defrag_valid", "q03_dedup_first",
    "q04_postings", "q05_token_filter", "q06_dictionary", "q07_stats",
    "q08_bm25_topk", "q09_boolean_and", "q10_topk_per_lang",
    "q11_exact_dups", "q12_ngram_jaccard_dups", "q13_minhash_signatures",
    "q14_simhash", "q15_knn_bruteforce", "q16_embedding_dups",
    "q17_langid", "q18_quality", "q19_token_counts", "q20_fingerprint",
    "q21_media_meta", "q22_media_features", "q24_wand_vs_exhaustive",
    "q25_extract_invariant", "q26_weighted_topk", "q27_wand_unstemmed",
    "q28_wand_boolean", "q29_wand_batch", "q30_knn_lsh",
    "q31_events_window", "q32_sessionize", "q33_lineitem_pricing",
    "q34_top_customers", "q35_ivf_topk", "q36_dup_clusters",
    "q37_repetition", "q38_source_stats", "q39_split",
    "q40_stratified_sample", "q41_pii_scrub", "q42_decontaminate",
    "q43_pack_sequences", "q44_curation_funnel", "q45_source_cap",
    "q46_token_budget", "q47_phrase_topk", "q48_proximity",
    "q49_phrase_batch", "q50_prefix_search", "q51_not_query",
]

# the queries whose Spark bodies are built from the shared BM25 helpers
SHARED_HELPER_QUERIES = [
    "q08_bm25_topk", "q26_weighted_topk", "q49_phrase_batch",
    "q50_prefix_search", "q51_not_query", "q52_fuzzy_search",
    "q53_more_like_this", "q54_facet_counts", "q56_zone_search",
    "q58_snippets", "q59_search_after", "q60_explain", "q61_collapse",
    "q63_synonym_search", "q64_filtered_search", "q65_mixed_search",
    "q66_boosted_search", "q67_min_match", "q68_hybrid_rrf",
    "q70_regex_search", "q71_wildcard_search", "q72_lm_dirichlet",
    "q73_term_vectors", "q74_rescore", "q75_bool_expr", "q76_date_facet",
    "q77_diversified_topk", "q78_recency_topk",
]


def test_entry_module_contract():
    import __spark_entry__ as e

    qs = e.queries()
    sqls = e.oracle_sql()
    assert len(qs) >= 20
    # every oracle key has a query
    assert set(sqls) <= set(qs)
    # at least 20 oracle-checked entries
    assert len(sqls) >= 20
    for name, fn in qs.items():
        sig = inspect.signature(fn)
        assert len(sig.parameters) == 2, f"{name} must take (spark, sf_dir)"
    for name, sql in sqls.items():
        assert isinstance(sql, str) and "SELECT" in sql.upper(), name
    assert callable(e.entry)


def test_oracle_sql_runs_on_duckdb():
    """Every oracle SQL parses and executes on DuckDB against the
    sf0.001 tables (result correctness vs Spark is covered by
    tools/check_oracle.py and the driver's own gate)."""
    import duckdb

    import __spark_entry__ as e

    con = duckdb.connect()
    for t in ("region nation customer supplier part orders lineitem "
              "events documents embeddings").split():
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('/root/testdata/sf0.001/{t}.parquet')")
    for name, sql in e.oracle_sql().items():
        try:
            con.execute(sql).fetchall()
        except Exception as exc:   # pragma: no cover
            raise AssertionError(f"{name} oracle SQL failed: {exc}") from exc


def test_oracle_sql_and_query_names_pinned():
    from ir_index_construction_spark.entry_queries import oracle_sql, queries

    blob = json.dumps(oracle_sql(), sort_keys=True).encode()
    assert hashlib.sha256(blob).hexdigest() == ORACLE_SQL_SHA256
    assert list(queries()) == QUERY_NAMES


@pytest.fixture(scope="module")
def oracle_gate():
    """tools/check_oracle.py (the DuckDB mirror gate) and a DuckDB
    connection over the sf0.001 tables."""
    if not os.path.isdir(SF_DIR):
        pytest.skip(f"{SF_DIR} is absent")
    spec = importlib.util.spec_from_file_location(
        "check_oracle_contract",
        Path(__file__).resolve().parent.parent / "tools" / "check_oracle.py")
    m = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(m)
    con = m.duckdb_views(SF_DIR)
    yield m, con
    con.close()


@pytest.mark.parametrize("name", SHARED_HELPER_QUERIES)
def test_shared_helper_queries_match_duckdb(spark, oracle_gate, name):
    from ir_index_construction_spark.entry_queries import oracle_sql, queries

    m, con = oracle_gate
    ok, msg = m.check_query(spark, con, SF_DIR, queries()[name],
                            oracle_sql()[name])
    assert ok, f"{name}: {msg}"
