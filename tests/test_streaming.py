"""Structured Streaming tests: the full pipeline as an AvailableNow
streaming job (batch equivalence, idempotent foreachBatch replay, delta
dedup with kills) and the watermarked windowed rollup."""

from __future__ import annotations

from pyspark.sql import functions as F


def test_incremental_pipeline_matches_batch(spark, corpus_path, tmp_path):
    """Full pipeline as a streaming job: two AvailableNow invocations over
    a growing input dir produce the same docs table as one batch run, and
    a drained re-invocation adds nothing."""
    import os

    import pyarrow.parquet as pq_

    from pii_detector_spark.plans.pipeline import run_pipeline
    from pii_detector_spark.streaming.incremental import incremental_pipeline

    src = tmp_path / "stream_in"
    src.mkdir()
    out = str(tmp_path / "stream_out")
    t = pq_.read_table(corpus_path)
    half = t.num_rows // 2
    pq_.write_table(t.slice(0, half), str(src / "part-a.parquet"))

    incremental_pipeline(spark, str(src), out, run_prefix="s1")
    docs1 = spark.read.parquet(os.path.join(out, "docs"))
    n1 = docs1.count()
    assert n1 > 0

    # second file lands; next invocation drains only the delta
    pq_.write_table(t.slice(half), str(src / "part-b.parquet"))
    incremental_pipeline(spark, str(src), out, run_prefix="s2")
    docs2 = spark.read.parquet(os.path.join(out, "docs"))
    assert docs2.count() > n1

    # drained: re-invoking adds nothing
    incremental_pipeline(spark, str(src), out, run_prefix="s3")
    docs3 = spark.read.parquet(os.path.join(out, "docs"))
    assert docs3.count() == docs2.count()

    # batch equivalence: same urls, keep flags, scrubbed text
    batch_out = str(tmp_path / "batch_out")
    run_pipeline(spark, corpus_path, batch_out, run_id="b1")
    a = {
        (r["url"], r["keep"], r["scrubbed_text"])
        for r in docs3.select("url", "keep", "scrubbed_text").collect()
    }
    b = {
        (r["url"], r["keep"], r["scrubbed_text"])
        for r in spark.read.parquet(os.path.join(batch_out, "docs"))
        .select("url", "keep", "scrubbed_text")
        .collect()
    }
    assert a == b
    # all four sinks exist with rows
    for tbl in ("findings", "lineage", "metrics"):
        assert spark.read.parquet(os.path.join(out, tbl)).count() > 0


def test_windowed_event_metrics_batch_equivalence(spark, sf_dir="/root/testdata/sf0.001"):
    from pii_detector_spark.streaming.incremental import windowed_event_metrics

    events = spark.read.parquet(f"{sf_dir}/events.parquet").withColumn(
        "ts", F.col("ts").cast("timestamp")
    )
    out = windowed_event_metrics(events)
    total = out.agg(F.sum("n_events")).collect()[0][0]
    assert total == events.count()


def test_foreachbatch_sink_is_idempotent_on_replay(spark, corpus_path, tmp_path):
    """Structured Streaming re-delivers a microbatch after a partial
    failure (at-least-once into foreachBatch); the sink must skip a
    batch whose run_id already committed, so the replay appends nothing."""
    import os

    from pii_detector_spark.plans.pipeline import transform_web_pages
    from pii_detector_spark.sources.web_pages import read_web_pages
    from pii_detector_spark.streaming.incremental import idempotent_batch_write

    out = str(tmp_path / "replay_out")
    batch = transform_web_pages(read_web_pages(spark, corpus_path))

    assert idempotent_batch_write(spark, batch, out, "s1-0", 1) is True
    docs = spark.read.parquet(os.path.join(out, "docs"))
    n1 = docs.count()
    assert n1 > 0
    lineage1 = spark.read.parquet(os.path.join(out, "lineage")).count()

    # replay of the SAME batch id: skipped, all four sinks unchanged
    assert idempotent_batch_write(spark, batch, out, "s1-0", 1) is False
    assert spark.read.parquet(os.path.join(out, "docs")).count() == n1
    assert (
        spark.read.parquet(os.path.join(out, "lineage")).count() == lineage1
    )

    # a NEW batch id still writes
    assert idempotent_batch_write(spark, batch, out, "s1-1", 1) is True
    assert spark.read.parquet(os.path.join(out, "docs")).count() == 2 * n1


def test_streaming_delta_dedup_matches_batch_full(spark, tmp_path):
    """Streaming with dedup_delta=True: each microbatch shingles only its
    own docs; final neardup/docs_deduped equal a one-shot batch
    dedup_near=True run over the same corpus."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq_

    from pii_detector_spark.plans.pipeline import run_pipeline
    from pii_detector_spark.streaming.incremental import incremental_pipeline

    base = (
        "the quick brown fox jumps over the lazy dog and then runs far "
        "away into the deep dark forest before the sun finally sets "
    ) * 4
    uniq = (
        "completely different content about distributed query engines "
        "processing petabytes of web text with vectorized operators "
    ) * 4
    schema = pa.schema(
        [
            ("url", pa.string()),
            ("warc_ts", pa.timestamp("us")),
            ("html", pa.binary()),
            ("text", pa.string()),
            ("lang", pa.string()),
        ]
    )

    def table(urls, texts):
        n = len(urls)
        return pa.table(
            {"url": urls, "warc_ts": [None] * n, "html": [None] * n,
             "text": texts, "lang": [None] * n},
            schema=schema,
        )

    # cluster members deliberately split ACROSS files so cross-batch pairs
    # must come from the persisted signature table
    u1 = [f"https://sa{i}.example.com/x" for i in range(3)]
    t1 = [base, uniq, base + " tail one two three"]
    u2 = ["https://sb0.example.com/y", "https://sb1.example.com/y"]
    t2 = [base + " another member", uniq + " small tail delta"]

    src = tmp_path / "sd_in"
    src.mkdir()
    out = str(tmp_path / "sd_out")
    pq_.write_table(table(u1, t1), str(src / "f1.parquet"))
    incremental_pipeline(spark, str(src), out, run_prefix="d1",
                         dedup_delta=True)
    pq_.write_table(table(u2, t2), str(src / "f2.parquet"))
    incremental_pipeline(spark, str(src), out, run_prefix="d2",
                         dedup_delta=True)

    # batch reference: full recompute over everything at once
    full_src = tmp_path / "sd_full"
    full_src.mkdir()
    pq_.write_table(table(u1 + u2, t1 + t2), str(full_src / "all.parquet"))
    bout = str(tmp_path / "sd_bout")
    run_pipeline(spark, str(full_src), bout, run_id="bf",
                 extract_html=False, dedup_near=True)

    def snap(d):
        nd = {
            r["url"]: (r["component"], r["is_canonical"])
            for r in spark.read.parquet(os.path.join(d, "neardup")).collect()
        }
        kept = {
            r["url"]
            for r in spark.read.parquet(
                os.path.join(d, "docs_deduped")
            ).collect()
        }
        return nd, kept

    nd_s, kept_s = snap(out)
    nd_b, kept_b = snap(bout)
    assert nd_s == nd_b
    assert kept_s == kept_b
    # the cross-file pair was actually found (sb0 joined sa0's cluster)
    assert nd_s["https://sb0.example.com/y"][0] == nd_s[u1[0]][0]


def test_streaming_delta_dedup_soak_with_kills(spark, tmp_path, monkeypatch):
    """VERDICT r4 #8: multi-microbatch foreachBatch pipeline with
    --dedup-delta, killed at two different seams between batches —
    (a) mid-dedup-rewrite (after the batch's commit marker), and
    (b) before a batch's commit marker — then replayed. Final
    docs/neardup/docs_deduped must equal a one-shot batch run with full
    recompute over the same corpus."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq_

    from pii_detector_spark.plans import pipeline as pl
    from pii_detector_spark.plans import tables
    from pii_detector_spark.plans.pipeline import run_pipeline
    from pii_detector_spark.streaming.incremental import incremental_pipeline

    base = (
        "the quick brown fox jumps over the lazy dog and then runs far "
        "away into the deep dark forest before the sun finally sets "
    ) * 4
    # second cluster seed must KEEP (pass language-id + quality gates):
    # dropped docs have null scrubbed_text and tombstone out of dedup
    uniq = (
        "meanwhile the curious cat walks along the quiet river and then "
        "sits beside the old wooden bridge while the evening light fades "
    ) * 4

    def tbl(urls, texts):
        n = len(urls)
        return pa.table(
            {"url": urls, "warc_ts": [None] * n, "html": [None] * n,
             "text": texts, "lang": [None] * n},
            schema=pa.schema([
                ("url", pa.string()), ("warc_ts", pa.timestamp("us")),
                ("html", pa.binary()), ("text", pa.string()),
                ("lang", pa.string()),
            ]),
        )

    src = tmp_path / "soak_in"
    src.mkdir()
    out = str(tmp_path / "soak_out")
    slices = [
        (["https://s.example.com/a1", "https://s.example.com/a2"],
         [base, uniq]),
        # b1 near-dups a1 (cross-batch pair); b2 brand new
        (["https://s.example.com/b1", "https://s.example.com/b2"],
         [base + " tail", uniq + " other words entirely here now"]),
        # c1 duplicates b2 exactly (J=1: chains a later batch to an
        # earlier one deterministically even under 12-hash estimation)
        (["https://s.example.com/c1"],
         [uniq + " other words entirely here now"]),
    ]

    # batch 0: clean
    pq_.write_table(tbl(*slices[0]), str(src / "f0.parquet"))
    incremental_pipeline(spark, str(src), out, run_prefix="sk",
                         dedup_delta=True)

    # batch 1: kill INSIDE the dedup pass (first neardup swap) — the
    # batch's sinks committed, derived tables stay one batch stale
    pq_.write_table(tbl(*slices[1]), str(src / "f1.parquet"))
    real_swap = tables.replace_dir
    state = {"armed": True}

    def killing_swap(path, tmp):
        if state["armed"] and path.endswith("neardup"):
            state["armed"] = False
            raise RuntimeError("injected kill mid-dedup-rewrite")
        return real_swap(path, tmp)

    monkeypatch.setattr(tables, "replace_dir", killing_swap)
    try:
        incremental_pipeline(spark, str(src), out, run_prefix="sk",
                             dedup_delta=True)
        raise AssertionError("injected kill did not fire")
    except Exception as exc:  # StreamingQueryException wraps the kill
        assert "injected kill" in str(exc)
    monkeypatch.setattr(tables, "replace_dir", real_swap)
    # old derived tables survived the crash, readable
    assert spark.read.parquet(os.path.join(out, "neardup")).count() > 0

    # replay invocation heals and re-derives (batch itself was committed,
    # so the replay skips the sinks and the closing refresh rebuilds)
    incremental_pipeline(spark, str(src), out, run_prefix="sk",
                         dedup_delta=True)

    # batch 2: kill BEFORE the commit marker — partitions written but
    # unmarked; heal_uncommitted_runs must remove them on the next start
    pq_.write_table(tbl(*slices[2]), str(src / "f2.parquet"))
    real_mark = pl.mark_run_committed
    state2 = {"armed": True}

    def killing_mark(output_dir, run_id):
        if state2["armed"]:
            state2["armed"] = False
            raise RuntimeError("injected kill before commit marker")
        return real_mark(output_dir, run_id)

    monkeypatch.setattr(pl, "mark_run_committed", killing_mark)
    try:
        incremental_pipeline(spark, str(src), out, run_prefix="sk",
                             dedup_delta=True)
        raise AssertionError("injected kill did not fire")
    except Exception as exc:
        assert "injected kill" in str(exc)
    monkeypatch.setattr(pl, "mark_run_committed", real_mark)
    incremental_pipeline(spark, str(src), out, run_prefix="sk",
                         dedup_delta=True)

    # one-shot batch reference over the full corpus, full recompute
    all_urls = [u for s in slices for u in s[0]]
    all_texts = [t for s in slices for t in s[1]]
    ref_src = tmp_path / "soak_ref_in"
    ref_src.mkdir()
    pq_.write_table(tbl(all_urls, all_texts), str(ref_src / "all.parquet"))
    ref_out = str(tmp_path / "soak_ref_out")
    run_pipeline(spark, str(ref_src / "all.parquet"), ref_out,
                 run_id="ref", dedup_near=True)

    def docs_set(d):
        return {
            (r["url"], r["keep"], r["scrubbed_text"])
            for r in spark.read.parquet(os.path.join(d, "docs"))
            .select("url", "keep", "scrubbed_text").collect()
        }

    def nd_set(d):
        return {
            (r["url"], r["component"], r["is_canonical"])
            for r in spark.read.parquet(os.path.join(d, "neardup")).collect()
        }

    def kept_set(d):
        return {
            r["url"] for r in
            spark.read.parquet(os.path.join(d, "docs_deduped")).collect()
        }

    assert docs_set(out) == docs_set(ref_out)
    assert nd_set(out) == nd_set(ref_out)
    assert kept_set(out) == kept_set(ref_out)
    # the cross-batch chain actually formed: a1~b1 and b2~c1 clusters
    nd = {r["url"]: r["component"]
          for r in spark.read.parquet(os.path.join(out, "neardup")).collect()}
    assert nd["https://s.example.com/a1"] == nd["https://s.example.com/b1"]
    assert nd["https://s.example.com/b2"] == nd["https://s.example.com/c1"]
    assert nd["https://s.example.com/a1"] != nd["https://s.example.com/b2"]
