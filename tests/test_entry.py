"""The declared-query registry (``__spark_entry__.queries`` and
``oracle_sql``): its names and order, its oracle coverage, the merge table
both engines build from, the session state its queries leave, and the
pipeline pass the quality queries run."""

from __future__ import annotations

import re

import __spark_entry__ as entry

# ORDERING CONTRACT: the driver runs entries in this order, and bench.py /
# bench_extra.py look queries up by these names
QUERY_NAMES = [
    "pricing_summary", "nb_quality", "window_running_budget", "events_rollup",
    "extract_file_texts", "pii_scrub_contact", "pii_scrub_financial",
    "pii_scrub_credentials", "decontaminate", "pack_shards", "host_cap",
    "simhash_pairs", "dedup_canonical", "dedup_clusters", "minhash_delta",
    "ngram_jaccard", "ann_ivf", "ann_ivf_delta", "embedding_neardup",
    "media_features", "image_features", "wav_features", "frame_sampling",
    "ann_lsh", "ann_bruteforce", "token_counts", "fingerprints",
    "exact_dedup", "hash_sample", "url_prefilters", "host_doc_counts",
    "quality_metrics", "quality_keep", "langid_documents",
    "lang_fluency_planted", "scrub_documents", "explode_archives",
    "filename_classifiers", "pii_scrub_person", "custom_classifier_scrub",
    "boilerplate_shingles", "remove_boilerplate_lines", "tabular_scan",
    "customers_without_orders", "latest_event_per_user", "paginate_orders",
    "snapshot_diff", "minhash_lsh", "simhash", "repetition_metrics",
]


def test_query_names_and_order_are_pinned():
    assert list(entry.queries()) == QUERY_NAMES


def test_every_oracle_is_a_query_and_only_langid_is_rows_only():
    queries, oracles = set(entry.queries()), set(entry.oracle_sql())
    assert oracles <= queries
    assert queries - oracles == {"langid_documents"}


def test_merged_entries_build_the_same_tags_on_both_engines(monkeypatch):
    queries, sql = entry.queries(), entry.oracle_sql()
    assert entry.UNTAGGED in entry.MERGED
    for parts in entry.MERGED.values():
        for member in parts.values():
            assert callable(entry._spark_query(member))
    # build each merged entry's Spark side with members and union stubbed:
    # what reaches _tagged_union is the {tag: member} map it unions
    monkeypatch.setattr(entry, "_spark_query", lambda m: lambda s, d: m)
    monkeypatch.setattr(
        entry, "_tagged_union", lambda parts, tagged=True: (parts, tagged)
    )
    for name, parts in entry.MERGED.items():
        spark_parts, tagged = queries[name](None, None)
        assert spark_parts == parts
        assert tagged == (name != entry.UNTAGGED)
        # one subquery per member, tagged unless the entry is UNTAGGED
        assert re.findall(r"\) u_(\w+)$", sql[name], re.M) == list(parts)
        sql_tags = re.findall(r"^SELECT '(\w+)' AS case_tag, \*", sql[name], re.M)
        assert sql_tags == (list(parts) if tagged else [])


def test_minhash_and_nb_queries_leave_nothing_in_the_cache_manager(spark):
    spark.catalog.clearCache()
    queries = entry.queries()
    for name in ("minhash_lsh", "minhash_delta", "nb_quality"):
        assert queries[name](spark, "/root/testdata/sf0.001").collect()
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()


def test_quality_queries_run_the_fused_pass(spark):
    """quality_metrics and quality_keep run the pipeline's fused
    ``mapInArrow`` pass, not a second implementation of the rules."""
    queries = entry.queries()
    for name in ("quality_metrics", "quality_keep"):
        df = queries[name](spark, "/root/testdata/sf0.001")
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "MapInArrow" in plan, name
        assert "ArrowEvalPython" not in plan, name
