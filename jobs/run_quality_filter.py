"""spark-submit entry point for the quality-filter + PII-scrub pipeline.

Cluster:
    python scripts/make_pyfiles.py                    # → dist/pii_detector_spark.zip
    spark-submit --py-files dist/pii_detector_spark.zip \
        jobs/run_quality_filter.py \
        --input  s3://bucket/web_pages/ \
        --output s3://bucket/filtered/ \
        --run-id 2026-08-16

Local smoke:
    spark-submit --master 'local[8]' --py-files dist/pii_detector_spark.zip \
        jobs/run_quality_filter.py --input /tmp/web_pages.parquet --output /tmp/out

Re-running with the same --output resumes: urls already SCANNED at the
current pattern version are anti-joined away (checkpoint lineage table), so
a killed job picks up where it left off and a completed job is a no-op.
Every side table the job writes (its input and post-pass tables) is
replaced whole through ``plans/tables.replace_dir``: a rerun that fails
part-way leaves the previous version readable.
"""

from __future__ import annotations

import argparse
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True, help="web_pages parquet path")
    ap.add_argument("--output", required=True, help="output dir (docs/findings/lineage/metrics)")
    ap.add_argument("--run-id", default="run-0")
    ap.add_argument("--no-resume", action="store_true")
    ap.add_argument("--no-html", action="store_true",
                    help="input has text only; skip HTML extraction")
    ap.add_argument("--gc-deleted", action="store_true",
                    help="after the run, MERGE-delete rows for urls no "
                         "longer present at the source (F7 GC)")
    ap.add_argument("--dedup-near", action="store_true",
                    help="after the run, incremental keep-one near-dup "
                         "pass over the docs table -> additive neardup + "
                         "docs_deduped tables; only docs no earlier pass "
                         "signed are shingled, and its state is kept in "
                         "signatures, neardup_pairs and paired_sigs")
    ap.add_argument("--dedup-max-iter", type=int, default=50,
                    help="connected-components round budget for dedup "
                         "(needs >= longest near-dup chain + 1; the loop "
                         "raises rather than return split clusters)")
    ap.add_argument("--decontaminate-against", default=None,
                    help="parquet path of benchmark/eval texts (column "
                         "'text'); writes a 'contamination' table flagging "
                         "docs sharing any --decontaminate-ngram-gram with "
                         "the benchmark (broadcast gram-digest join)")
    ap.add_argument("--decontaminate-ngram", type=int, default=13,
                    help="n-gram size for --decontaminate-against "
                         "(public recipe: 13)")
    ap.add_argument("--host-cap", type=int, default=None,
                    help="max docs any single host contributes; applied "
                         "to kept docs before packing. Uses the windowless "
                         "rate-cap scale path (exact per-host counts -> "
                         "keep probabilities; only over-cap hosts "
                         "broadcast); add --host-cap-exact for the "
                         "md5-ranked exact top-k variant")
    ap.add_argument("--host-cap-exact", action="store_true")
    ap.add_argument("--pack-budget", type=int, default=None,
                    help="token budget per training shard; writes a "
                         "'shards' table (url, n_tokens, cum_tokens, "
                         "shard_id) over kept docs via the distributed "
                         "prefix sum")
    ap.add_argument("--pack-materialize", action="store_true",
                    help="with --pack-budget: also write the physical "
                         "shard_data table (doc rows partitioned by "
                         "shard_id, one directory per training shard) "
                         "and its shard_manifest index (n_docs/n_tokens/"
                         "n_chars per shard), both crash-safe swapped")
    ap.add_argument("--heartbeat", type=float, default=None, metavar="SECS",
                    help="append a liveness row to <output>/heartbeat every "
                         "SECS seconds (driver-side, out-of-band); a "
                         "monitor treats a stale newest beat as a dead "
                         "instance (K5)")
    ap.add_argument("--robots", default=None, metavar="PARQUET",
                    help="parquet of (host, robots_txt) rows: BEFORE "
                         "scanning, drop input urls the host's rules "
                         "disallow (RFC 9309 longest-match semantics, "
                         "agent --robots-agent); the filtered input is "
                         "materialized at <output>/input_robots and "
                         "scanned instead of --input")
    ap.add_argument("--robots-agent", default="*",
                    help="product token for --robots group selection")
    ap.add_argument("--canonical-dedup", action="store_true",
                    help="BEFORE scanning, collapse url families to one "
                         "capture each: canonicalize urls (tracking "
                         "params, default ports, www/fragment/slash, "
                         "query order) and keep the latest warc_ts per "
                         "canonical url; the deduped input (+ its "
                         "canonical_url column) is materialized at "
                         "<output>/input_canonical and scanned instead "
                         "of --input")
    ap.add_argument("--fix-text", action="store_true",
                    help="after the run, write a docs_fixed table (url, "
                         "text_fixed): mojibake repair + NFC/newline/"
                         "control normalization over kept docs' scrubbed "
                         "text. Opt-in because the primary docs table "
                         "keeps the byte-identical extraction contract")
    ap.add_argument("--dedup-substring", type=int, default=None,
                    metavar="K",
                    help="after the run, write a docs_window_deduped "
                         "table (url, text): every duplicated K-token "
                         "window cut from all but its canonical "
                         "occurrence (Lee-et-al exact substring dedup) "
                         "over kept docs' scrubbed text; output text is "
                         "whitespace-normalized")
    ap.add_argument("--dsir-target", default=None,
                    help="parquet of target-domain texts (column 'text'): "
                         "trains DSIR hashed-n-gram importance weights "
                         "(target vs the kept docs as the raw model; "
                         "--dsir-raw overrides) and scores kept docs via "
                         "the zero-shuffle broadcast path, writing a "
                         "'dsir_weights' table (url, dsir_weight_fp)")
    ap.add_argument("--dsir-raw", default=None,
                    help="optional parquet of raw-corpus sample texts for "
                         "--dsir-target (column 'text')")
    ap.add_argument("--ppl-buckets", action="store_true",
                    help="after the run, write a 'ppl_buckets' table "
                         "(url, lang_pred, word_ppl, bucket): CCNet-style "
                         "head/middle/tail tiers per predicted language "
                         "(word-perplexity terciles via percentile_approx "
                         "bounds + broadcast assignment)")
    ap.add_argument("--semdedup-embeddings", default=None,
                    help="parquet of (vec_id, embedding array) rows keyed "
                         "by url or numeric id: SemDeDup semantic dedup "
                         "verdicts to a 'semantic_dups' table "
                         "(vec_id, cell, dropped)")
    ap.add_argument("--semdedup-tau", type=float, default=0.95)
    ap.add_argument("--semdedup-cells", type=int, default=1024)
    ap.add_argument("--semdedup-keep", default="min_id",
                    choices=("min_id", "low_centroid_sim"),
                    help="survivor rule: engine-portable id dominance, "
                         "or the paper's keep-least-similar-to-centroid")
    ap.add_argument("--semdedup-dim", type=int, default=None,
                    help="embedding dimension (default: inferred from "
                         "the first row)")
    ap.add_argument("--bpe-merges", type=int, default=None, metavar="N",
                    help="after the run, train an N-merge BPE tokenizer "
                         "on kept docs (one distributed word count + "
                         "driver-side merge loop) and write 'bpe_merges' "
                         "(rank, left, right) plus 'bpe_counts' "
                         "(url, n_bpe_tokens) via the broadcast encoder")
    ap.add_argument("--expire-keep-last", type=int, default=None,
                    metavar="N",
                    help="after the run, expire all but the newest N "
                         "snapshots and GC run partitions unreachable "
                         "from the survivors (plans/snapshots)")
    ap.add_argument("--nb-labels", default=None,
                    help="parquet of labeled docs (label boolean, text "
                         "string): trains the Naive-Bayes quality "
                         "classifier on it and scores kept docs via the "
                         "zero-shuffle broadcast path, writing an "
                         "'nb_scores' table (url, nb_score_fp, nb_keep)")
    args = ap.parse_args()

    # session comes from spark-submit conf; only engine-required settings here
    spark = (
        SparkSession.builder.appName("pii-quality-filter")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.adaptive.enabled", "true")
        .getOrCreate()
    )

    from pii_detector_spark.plans import pipeline
    from pii_detector_spark.plans.tables import replace_dir

    def publish(name: str, df: DataFrame) -> str:
        path = os.path.join(args.output, name)
        replace_dir(path, df.write.mode("overwrite").parquet)
        return path

    input_path = args.input
    if args.robots:
        from pii_detector_spark.operators import robots

        rules = robots.parse_robots(spark.read.parquet(args.robots))
        allowed = robots.filter_disallowed(
            spark.read.parquet(input_path), rules, agent=args.robots_agent
        )
        input_path = publish(
            "input_robots",
            allowed.filter(F.col("robots_allowed")).drop("robots_allowed"),
        )
    if args.canonical_dedup:
        from pii_detector_spark.operators.urls import keep_latest_per_canonical

        # composes with --robots
        deduped = keep_latest_per_canonical(spark.read.parquet(input_path))
        input_path = publish("input_canonical", deduped)

    res = pipeline.run_pipeline(
        spark,
        input_path,
        args.output,
        run_id=args.run_id,
        resume=not args.no_resume,
        extract_html=not args.no_html,
        gc_deleted=args.gc_deleted,
        dedup_near=args.dedup_near,
        dedup_max_iter=args.dedup_max_iter,
        heartbeat_interval_s=args.heartbeat,
    )

    # one row per url: the resume contract keeps one live content per url
    # within a pattern version, but a pattern bump over the same output dir
    # leaves historical rows — without the dedup they would double-count
    # grams and emit duplicate rows in every table below
    kept = (
        pipeline.read_docs_table(spark, args.output)
        .filter(F.col("keep"))
        .dropDuplicates(["url"])
    )
    kept_text = kept.select("url", F.col("scrubbed_text").alias("text"))

    if args.decontaminate_against:
        from pii_detector_spark.operators.decontaminate import (
            ngram_decontaminate,
        )

        bench = spark.read.parquet(args.decontaminate_against)
        # id_col url is a string: ngram_decontaminate keys on it directly
        publish("contamination", ngram_decontaminate(
            kept, bench,
            n=args.decontaminate_ngram,
            id_col="url", text_col="scrubbed_text",
        ))
    to_pack = kept
    if args.host_cap:
        from pii_detector_spark.operators import domains

        capped = (
            domains.drop_over_cap(kept, args.host_cap)
            if args.host_cap_exact
            else domains.rate_cap_per_host(kept, args.host_cap).drop("host")
        )
        # read the published rows back: the cap (and its rank window) runs
        # once, and shards/shard_data pack exactly the docs_capped rows
        to_pack = spark.read.parquet(publish("docs_capped", capped))
    if args.nb_labels:
        from pii_detector_spark.operators.nbquality import (
            score_nb,
            train_nb,
        )

        model = train_nb(spark.read.parquet(args.nb_labels))
        scored = score_nb(kept_text, model, id_col="url")
        publish("nb_scores", scored)
    if args.dsir_target:
        from pii_detector_spark.operators.dsir import (
            dsir_weights,
            train_dsir,
        )

        target = spark.read.parquet(args.dsir_target).select("text")
        raw = (
            spark.read.parquet(args.dsir_raw).select("text")
            if args.dsir_raw
            else kept_text.select("text")
        )
        model = train_dsir(target, raw)
        weights = dsir_weights(kept_text, model, id_col="url")
        publish("dsir_weights", weights)
    if args.ppl_buckets:
        from pii_detector_spark.operators.ccnet import (
            assign_buckets,
            bucket_bounds,
        )
        from pii_detector_spark.operators.langid import with_word_perplexity

        scored = with_word_perplexity(
            kept.select("url", "lang_pred", "scrubbed_text"),
            text_col="scrubbed_text",
        )
        bounds = bucket_bounds(scored, "word_ppl", group_col="lang_pred")
        publish("ppl_buckets", assign_buckets(
            scored, "word_ppl", bounds, group_col="lang_pred"
        ).select("url", "lang_pred", "word_ppl", "bucket"))
    if args.bpe_merges:
        from pii_detector_spark.operators.bpe import (
            bpe_token_counts,
            train_bpe,
            word_counts,
        )

        merges = train_bpe(word_counts(kept_text), n_merges=args.bpe_merges)
        publish("bpe_merges", spark.createDataFrame(
            [(i, a, b) for i, (a, b) in enumerate(merges)],
            "rank long, left string, right string",
        ))
        counts = bpe_token_counts(kept_text, merges, id_col="url")
        publish("bpe_counts", counts)
    if args.semdedup_embeddings:
        from pii_detector_spark.operators.semdedup import semantic_dedup

        emb = spark.read.parquet(args.semdedup_embeddings)
        dim = args.semdedup_dim
        if not dim:
            head = emb.select("embedding").first()
            if head is None or head["embedding"] is None:
                raise SystemExit(
                    "--semdedup-embeddings: input has no rows (or a NULL "
                    "first embedding); pass --semdedup-dim or fix the "
                    "embeddings table"
                )
            dim = len(head["embedding"])
        publish("semantic_dups", semantic_dedup(
            emb.select(
                "vec_id",
                F.transform(
                    "embedding", lambda x: x.cast("double")
                ).alias("embedding"),
            ),
            dim=dim,
            tau=args.semdedup_tau,
            n_cells=args.semdedup_cells,
            keep=args.semdedup_keep,
        ))
    if args.fix_text:
        from pii_detector_spark.operators.textfix import fix_text_column

        publish("docs_fixed", kept.select(
            "url",
            fix_text_column(F.col("scrubbed_text")).alias("text_fixed"),
        ))
    if args.dedup_substring:
        from pii_detector_spark.operators.substring_dedup import (
            remove_duplicate_windows,
        )

        publish("docs_window_deduped", remove_duplicate_windows(
            kept.select("url", "scrubbed_text"),
            id_col="url",
            text_col="scrubbed_text",
            k=args.dedup_substring,
        ).withColumnRenamed("doc_id", "url"))
    if args.pack_budget:
        from pii_detector_spark.operators.packing import (
            pack_documents_by_url,
            write_packed_shards,
        )

        publish("shards", pack_documents_by_url(
            to_pack.select("url", F.col("n_words").alias("n_tokens")),
            args.pack_budget,
        ))
        if args.pack_materialize:
            write_packed_shards(
                to_pack.withColumn("n_tokens", F.col("n_words")),
                args.pack_budget,
                args.output,
            )

    if args.expire_keep_last:
        from pii_detector_spark.plans.snapshots import expire_snapshots

        expire_snapshots(args.output, keep_last=args.expire_keep_last)

    print(
        f"docs={res.docs_written} input_files={res.input_files} "
        f"input_files_skipped={res.input_files_skipped} docs_path={res.docs_path} "
        f"findings={res.findings_path} lineage={res.lineage_path} "
        f"metrics={res.metrics_path}"
    )
    spark.stop()


if __name__ == "__main__":
    main()
