"""End-to-end pipeline vs oracle: keep/drop F1, byte-identical scrubbed
text, drop-reason agreement, metrics/lineage integrity, checkpoint resume
idempotence. This is the BASELINE.md correctness gate."""

from __future__ import annotations

import os
from collections import Counter

import pyarrow.parquet as pq
import pytest

from pii_detector_spark.plans.pipeline import run_pipeline
from tests.oracle import oracle_decide, oracle_near_dedup


@pytest.fixture(scope="module")
def pipeline_out(spark, corpus_path, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("pipe_out"))
    res = run_pipeline(spark, corpus_path, out, run_id="t1")
    return res


@pytest.fixture(scope="module")
def engine_rows(spark, pipeline_out):
    docs = spark.read.parquet(pipeline_out.docs_path)
    return {r["url"]: r.asDict() for r in docs.collect()}


@pytest.fixture(scope="module")
def oracle_rows(corpus_path):
    table = pq.read_table(corpus_path, columns=["url", "text"]).to_pylist()
    # same pre-filters the engine applies (blocklist/log urls never scanned)
    import re

    from pii_detector_spark.sources.web_pages import BLOCKED_EXT_RX, LOG_PATH_RX

    blocked = re.compile(BLOCKED_EXT_RX)
    logrx = re.compile(LOG_PATH_RX)
    out = {}
    for row in table:
        if blocked.search(row["url"]) or logrx.search(row["url"]):
            continue
        out[row["url"]] = oracle_decide(row["url"], row["text"])
    return out


def test_same_url_set(engine_rows, oracle_rows):
    assert set(engine_rows) == set(oracle_rows)


def test_keep_drop_f1(engine_rows, oracle_rows):
    tp = fp = fn = 0
    for url, odoc in oracle_rows.items():
        e = engine_rows[url]["keep"]
        o = odoc.keep
        if e and o:
            tp += 1
        elif e and not o:
            fp += 1
        elif o and not e:
            fn += 1
    f1 = 2 * tp / (2 * tp + fp + fn)
    assert f1 >= 0.99, (f1, fp, fn)


def test_drop_reasons_agree(engine_rows, oracle_rows):
    mismatches = [
        (u, engine_rows[u]["drop_reason"], o.drop_reason)
        for u, o in oracle_rows.items()
        if engine_rows[u]["drop_reason"] != o.drop_reason
    ]
    assert not mismatches, mismatches[:10]


def test_scrubbed_text_byte_identical(engine_rows, oracle_rows):
    diffs = []
    for url, odoc in oracle_rows.items():
        if engine_rows[url]["scrubbed_text"] != odoc.scrubbed_text:
            diffs.append(url)
    assert not diffs, diffs[:5]


def test_lang_pred_and_phi_agree(engine_rows, oracle_rows):
    for url, odoc in oracle_rows.items():
        assert engine_rows[url]["lang_pred"] == odoc.lang_pred, url
        assert engine_rows[url]["is_phi"] == odoc.is_phi, url


def test_entry_matches_oracle(spark):
    """The driver's smoke query (``__spark_entry__.entry``, sf0.001
    documents as text-only web pages) agrees with the oracle on every url:
    keep, drop reason, predicted language, scrubbed text and PHI flag."""
    from __spark_entry__ import entry
    from tests.test_bpe import SF

    docs = pq.read_table(
        f"{SF}/documents.parquet", columns=["doc_id", "text", "source"]
    ).to_pylist()
    want = {
        f"https://{d['source']}.example.com/doc/{d['doc_id']}.html": d["text"]
        for d in docs
        if d["text"] is not None
    }
    rows = {r["url"]: r for r in entry(spark).collect()}
    assert set(rows) == set(want)
    for url, text in want.items():
        o, e = oracle_decide(url, text), rows[url]
        got = (e["keep"], e["drop_reason"], e["lang_pred"],
               e["scrubbed_text"], e["is_phi"])
        assert got == (o.keep, o.drop_reason, o.lang_pred,
                       o.scrubbed_text, o.is_phi), url


def test_findings_match_oracle(spark, pipeline_out, oracle_rows):
    eng = spark.read.parquet(pipeline_out.findings_path).collect()
    by_url: dict[str, list] = {}
    for r in eng:
        by_url.setdefault(r["url"], []).append(r.asDict())
    for url, odoc in oracle_rows.items():
        if not odoc.keep:
            assert url not in by_url
            continue
        got = sorted(
            (f["pii_type"], f["start"], f["end"], f["pii_hash"], f["pii_masked"])
            for f in by_url.get(url, [])
        )
        want = sorted(
            (f["pii_type"], f["start"], f["end"], f["pii_hash"], f["pii_masked"])
            for f in odoc.findings
        )
        assert got == want, url


def test_metrics_totals(spark, pipeline_out, engine_rows):
    m = spark.read.parquet(pipeline_out.metrics_path)
    agg = m.groupBy().sum("docs_scanned", "docs_kept").collect()[0]
    assert agg[0] == len(engine_rows)
    assert agg[1] == sum(1 for r in engine_rows.values() if r["keep"])


def test_metrics_rows_count_one_docs_partition(spark, tmp_path):
    """A metrics row's PII hits and doc counts describe the SAME docs
    file: the one its write task (``part-<partition_id>-…``) wrote. Small
    splits make the run write several docs files; a row counted over
    anything else lands under the wrong partition_id, or next to rows with
    docs_scanned == 0."""
    from pyspark.sql import functions as F

    from pii_detector_spark.plans.pipeline import read_docs_table
    from pii_detector_spark.sources.datagen import write_web_pages

    src = write_web_pages(
        str(tmp_path / "in.parquet"), n_rows=2000, row_group_size=100
    )
    key = "spark.sql.files.maxPartitionBytes"
    prev = spark.conf.get(key)
    try:
        spark.conf.set(key, "65536")
        out = str(tmp_path / "out")
        run_pipeline(spark, src, out, run_id="p1")
        want = {
            int(r["file"].split("-")[1]): (r["docs"], r["hits"])
            for r in read_docs_table(spark, out)
            .filter(F.col("run_id") == "p1")
            .groupBy(F.col("_metadata.file_name").alias("file"))
            .agg(
                F.count(F.lit(1)).alias("docs"),
                F.sum(
                    F.when(F.col("findings").isNull(), 0).otherwise(
                        F.size("findings")
                    )
                ).alias("hits"),
            )
            .collect()
        }
    finally:
        spark.conf.set(key, prev)
    rows = spark.read.parquet(os.path.join(out, "metrics")).collect()
    assert len(want) > 1, "the run must write several docs files"
    got = {
        r["partition_id"]: (r["docs_scanned"], sum(r["pii_hits"].values()))
        for r in rows
    }
    assert [r["partition_id"] for r in rows if r["docs_scanned"] == 0] == []
    assert got == {pid: dh for pid, dh in want.items() if dh[0]}


def test_every_drop_reason_class_present(engine_rows):
    reasons = {r["drop_reason"] for r in engine_rows.values() if r["drop_reason"]}
    expected = {
        "too_short",
        "word_length",
        "symbol_ratio",
        "bullet_lines",
        "ellipsis_lines",
        "low_alpha",
        "repetition",
        "language",
        "toxicity",
    }
    assert expected <= reasons, expected - reasons


def test_resume_is_idempotent(spark, corpus_path, pipeline_out):
    """Second run over the same input writes zero new docs."""
    res2 = run_pipeline(
        spark, corpus_path, os.path.dirname(pipeline_out.docs_path), run_id="t2"
    )
    assert res2.docs_written == 0


def test_gc_deleted_urls_merge_delete(spark, corpus_path, tmp_path_factory):
    """F7 deleted-object GC: a url gone from the source is MERGE-deleted
    from docs/findings/lineage; the pass is idempotent; and a url that
    reappears later is rescanned (its lineage row is gone)."""
    import pyarrow.parquet as pq_

    out = str(tmp_path_factory.mktemp("gc_out"))
    half_dir = tmp_path_factory.mktemp("gc_half")
    t = pq_.read_table(corpus_path)
    half = t.slice(0, t.num_rows // 2)
    pq_.write_table(half, str(half_dir / "half.parquet"))

    # full scan, then the source shrinks to half and we GC
    run_pipeline(spark, corpus_path, out, run_id="g1")
    docs_before = spark.read.parquet(os.path.join(out, "docs")).count()
    res2 = run_pipeline(
        spark, str(half_dir / "half.parquet"), out, run_id="g2", gc_deleted=True
    )
    assert res2.docs_written == 0  # nothing new to scan

    kept_urls = {
        r["url"] for r in spark.read.parquet(os.path.join(out, "docs")).collect()
    }
    half_urls = set(half.column("url").to_pylist())
    # docs now contain only urls surviving at the source (pre-filtered
    # subset of the half listing)
    assert kept_urls <= half_urls
    assert len(kept_urls) < docs_before
    lineage_urls = {
        r["url"] for r in spark.read.parquet(os.path.join(out, "lineage")).collect()
    }
    assert lineage_urls == kept_urls
    findings_urls = {
        r["url"] for r in spark.read.parquet(os.path.join(out, "findings")).collect()
    }
    assert findings_urls <= kept_urls

    # idempotent: same listing again → nothing changes
    run_pipeline(
        spark, str(half_dir / "half.parquet"), out, run_id="g3", gc_deleted=True
    )
    kept2 = {
        r["url"] for r in spark.read.parquet(os.path.join(out, "docs")).collect()
    }
    assert kept2 == kept_urls

    # the deleted urls reappear → resume rescans them (lineage rows gone)
    res4 = run_pipeline(spark, corpus_path, out, run_id="g4")
    assert res4.docs_written == docs_before - len(kept_urls)


def test_resume_join_not_forced_broadcast(spark):
    """Lineage grows to corpus cardinality, so the resume anti-join must not
    carry a broadcast HINT: when the done-set exceeds
    autoBroadcastJoinThreshold the planner has to be free to pick a shuffle
    join (a forced F.broadcast of 10^9 urls OOMs the driver). With the
    threshold disabled, any BroadcastExchange in the plan can only come from
    a hint."""
    from pii_detector_spark.plans.checkpoint import anti_join_completed

    df = spark.range(1000).selectExpr("concat('u', id) AS url", "id AS v")
    lineage = spark.range(500).selectExpr(
        "concat('u', id) AS url",
        "'SCANNED' AS status",
        "1 AS pattern_version",
    )
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        plan = (
            anti_join_completed(df, lineage, pattern_version=1)
            ._jdf.queryExecution().executedPlan().toString()
        )
        assert "BroadcastExchange" not in plan, plan
        # and the join itself is still an anti join
        assert "LeftAnti" in plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def test_resume_after_partial_run(spark, corpus_path, tmp_path_factory):
    """Kill-and-rerun: half the corpus first, then the whole thing; the
    final docs table equals one fresh full run (set-of-urls + keep flags)."""
    import pyarrow.parquet as pq_

    out = str(tmp_path_factory.mktemp("resume_out"))
    half_dir = tmp_path_factory.mktemp("half")
    t = pq_.read_table(corpus_path)
    pq_.write_table(t.slice(0, t.num_rows // 2), str(half_dir / "half.parquet"))

    run_pipeline(spark, str(half_dir / "half.parquet"), out, run_id="p1")
    run_pipeline(spark, corpus_path, out, run_id="p2")

    fresh_out = str(tmp_path_factory.mktemp("fresh_out"))
    run_pipeline(spark, corpus_path, fresh_out, run_id="f1")

    a = {
        (r["url"], r["keep"], r["scrubbed_text"])
        for r in spark.read.parquet(os.path.join(out, "docs")).collect()
    }
    b = {
        (r["url"], r["keep"], r["scrubbed_text"])
        for r in spark.read.parquet(os.path.join(fresh_out, "docs")).collect()
    }
    assert a == b


def test_gc_crash_recovery_and_swap_order(spark, tmp_path_factory):
    """Every GC interruption point leaves a recoverable directory: a
    leftover aside dir with the live dir missing (crash mid-swap) is
    renamed back before the pass runs; no aside/tmp dir is left."""
    import os as _os

    from pii_detector_spark.plans.checkpoint import gc_deleted_urls

    out = str(tmp_path_factory.mktemp("gc_crash"))
    df = spark.createDataFrame([("u1",), ("u2",), ("u3",)], "url string")
    for t in ("docs", "findings", "lineage"):
        df.write.parquet(_os.path.join(out, t))
    # simulate a crash that happened between rename-aside and tmp-swap
    _os.rename(_os.path.join(out, "docs"), _os.path.join(out, "docs_swap_old"))

    deleted = spark.createDataFrame([("u2",)], "url string")
    removed = gc_deleted_urls(spark, out, deleted)
    assert removed == {"docs": 1, "findings": 1, "lineage": 1}
    for t in ("docs", "findings", "lineage"):
        got = {
            r["url"]
            for r in spark.read.parquet(_os.path.join(out, t)).collect()
        }
        assert got == {"u1", "u3"}
        assert not _os.path.exists(_os.path.join(out, t + "_gc_old"))
        assert not _os.path.exists(_os.path.join(out, t + "_gc_tmp"))
    # missing tables are skipped, not an error
    removed2 = gc_deleted_urls(
        spark, out, deleted, tables=("docs", "nonexistent")
    )
    assert "nonexistent" not in removed2


def test_dedup_near_flag_writes_keep_one_tables(spark, tmp_path_factory):
    """run_pipeline(dedup_near=True): docs stays complete; neardup records
    cluster membership; docs_deduped keeps exactly one per cluster."""
    import os as _os

    import pyarrow as pa
    import pyarrow.parquet as pq_

    dup = (
        "the quick brown fox jumps over the lazy dog and then runs far "
        "away into the deep dark forest before the sun finally sets "
    ) * 4
    uniq = (
        "completely different content about distributed query engines "
        "processing petabytes of web text with vectorized operators daily "
    ) * 4
    src_dir = tmp_path_factory.mktemp("neardup_src")
    pq_.write_table(
        _delta_tbl(
            [
                "https://a.example.com/1",
                "https://b.example.com/2",
                "https://c.example.com/3",
            ],
            [dup, dup, uniq],
        ),
        str(src_dir / "pages.parquet"),
    )
    out = str(tmp_path_factory.mktemp("neardup_out"))

    run_pipeline(
        spark,
        str(src_dir / "pages.parquet"),
        out,
        run_id="nd1",
        extract_html=False,
        dedup_near=True,
    )
    docs = spark.read.parquet(_os.path.join(out, "docs"))
    assert docs.count() == 3  # primary table untouched
    nd = {
        r["url"]: (r["component"], r["is_canonical"])
        for r in spark.read.parquet(_os.path.join(out, "neardup")).collect()
    }
    assert nd["https://a.example.com/1"][1] is True
    assert nd["https://b.example.com/2"][1] is False
    assert nd["https://c.example.com/3"][1] is True
    assert nd["https://a.example.com/1"][0] == nd["https://b.example.com/2"][0]
    kept = {
        r["url"]
        for r in spark.read.parquet(
            _os.path.join(out, "docs_deduped")
        ).collect()
    }
    assert kept == {"https://a.example.com/1", "https://c.example.com/3"}


def test_dedup_delta_parity_and_delta_only_work(spark, tmp_path_factory):
    """Near-dup pass: run 1 (80% of corpus) + run 2 (20% new urls) must
    (a) shingle ONLY the delta on run 2 (signature appends == new docs),
    (b) produce the neardup/docs_deduped tables of the pure-Python
    keep-one (``tests/oracle.oracle_near_dedup`` over the oracle's
    scrubbed texts), as a one-shot run over the whole corpus does, and
    (c) be idempotent under crash-replay of run 2."""
    import os as _os

    import pyarrow as pa
    import pyarrow.parquet as pq_

    base = (
        "the quick brown fox jumps over the lazy dog and then runs far "
        "away into the deep dark forest before the sun finally sets "
    ) * 4
    uniq = (
        "completely different content about distributed query engines "
        "processing petabytes of web text with vectorized operators "
    )

    # batch1: 2 near-dup clusters + uniques; batch2 adds a member to
    # cluster A and a brand-new unique — so run 2 must find new x old pairs
    urls1 = [f"https://h{i}.example.com/p{i}" for i in range(8)]
    texts1 = [
        base,                                  # cluster A
        base + "tail variation one two three", # cluster A (near)
        uniq * 4,                              # cluster B
        (uniq * 4) + " small appended delta",  # cluster B (near)
    ] + [f"singleton document number {i} " + uniq[: 40 + 7 * i] + base[i * 9 : i * 9 + 220] for i in range(4)]
    urls2 = ["https://new1.example.com/x", "https://new2.example.com/y"]
    fresh = (
        "this entirely new page tells a calm story about a quiet village "
        "where people bake bread and share it with friendly travelers "
        "during the long warm summer evenings near the old stone bridge "
    ) * 3
    texts2 = [base + "another near member", fresh]

    d = tmp_path_factory.mktemp("delta_src")
    pq_.write_table(_delta_tbl(urls1, texts1), str(d / "b1.parquet"))
    full_dir = tmp_path_factory.mktemp("delta_full_src")
    pq_.write_table(
        _delta_tbl(urls1 + urls2, texts1 + texts2),
        str(full_dir / "all.parquet"),
    )

    # reference: the pure-Python keep-one over the oracle's scrubbed texts
    urls = urls1 + urls2
    ref = oracle_near_dedup(
        {
            u: oracle_decide(u, t).scrubbed_text
            for u, t in zip(urls, texts1 + texts2)
        }
    )
    ref_kept = {u for u, (_, canon) in ref.items() if canon}
    # a multi-member cluster spans both runs: the run-2 near member joins
    # cluster A, whose canonical came in run 1
    assert ref["https://new1.example.com/x"] == (urls1[0], False)

    # one-shot pass over everything
    out_full = str(tmp_path_factory.mktemp("delta_out_full"))
    run_pipeline(
        spark, str(full_dir), out_full, run_id="f1",
        extract_html=False, dedup_near=True,
    )

    # delta: run 1 on batch1, then run 2 on the full listing (resume
    # anti-join leaves only the 2 new urls)
    out_delta = str(tmp_path_factory.mktemp("delta_out_inc"))
    run_pipeline(
        spark, str(d), out_delta, run_id="d1",
        extract_html=False, dedup_near=True,
    )
    run_pipeline(
        spark, str(full_dir), out_delta, run_id="d2",
        extract_html=False, dedup_near=True,
    )

    sigs = spark.read.parquet(_os.path.join(out_delta, "signatures"))
    # (a) run 2 appended signatures for exactly the 2 new docs — nothing
    # from batch1 was re-shingled; run 1 signed its scrubbed (non-dropped)
    # docs only
    assert sigs.filter(sigs.run_id == "d2").count() == len(urls2)
    # every d1 doc is signed — dropped/short docs as TOMBSTONES (empty
    # hash set) so they never re-enter the unsigned backlog
    assert sigs.filter(sigs.run_id == "d1").count() == len(urls1)
    docs_tbl = spark.read.parquet(_os.path.join(out_delta, "docs"))
    n_d1_scrubbed = docs_tbl.filter(
        (docs_tbl.run_id == "d1") & docs_tbl.scrubbed_text.isNotNull()
    ).count()
    from pyspark.sql import functions as F_

    assert (
        sigs.filter(
            (sigs.run_id == "d1") & (F_.size("shingle_hashes") > 0)
        ).count()
        == n_d1_scrubbed
    )

    def snap(out):
        nd = {
            r["url"]: (r["component"], r["is_canonical"])
            for r in spark.read.parquet(
                _os.path.join(out, "neardup")
            ).collect()
        }
        kept = {
            r["url"]
            for r in spark.read.parquet(
                _os.path.join(out, "docs_deduped")
            ).collect()
        }
        return nd, kept

    # (b) the reference's decisions: same components (min url), same
    # canonical flags, same kept set — one-shot and over two runs
    assert snap(out_full) == (ref, ref_kept)
    assert snap(out_delta) == (ref, ref_kept)

    # (c) crash-replay of run 2: everything already SCANNED -> no new
    # signatures, outputs unchanged
    run_pipeline(
        spark, str(full_dir), out_delta, run_id="d2",
        extract_html=False, dedup_near=True,
    )
    assert snap(out_delta) == (ref, ref_kept)


def test_crash_at_every_sink_heals_to_identical_tables(
    spark, tmp_path_factory, monkeypatch
):
    """Kill run_pipeline at each seam of the write protocol (a failure
    inside the write job / after the job, before any publish / after the
    docs, findings and lineage publishes / after the metrics file / at the
    commit marker): the unmarked run is healed on the next run, and the
    final four tables are identical to a never-crashed run."""
    import os as _os

    from pyspark.errors import SparkRuntimeException
    from pyspark.sql import functions as F

    import pii_detector_spark.plans.pipeline as pipemod
    from pii_detector_spark.plans import checkpoint, tables
    from pii_detector_spark.sources.datagen import write_web_pages

    src = tmp_path_factory.mktemp("crash_src") / "pages.parquet"
    write_web_pages(str(src), n_rows=120, seed=7)

    def snapshot(out):
        docs = spark.read.parquet(_os.path.join(out, "docs"))
        findings = spark.read.parquet(_os.path.join(out, "findings"))
        lineage = spark.read.parquet(_os.path.join(out, "lineage"))
        metrics = spark.read.parquet(_os.path.join(out, "metrics"))
        return (
            sorted(
                (r["url"], r["keep"], r["scrubbed_text"])
                for r in docs.collect()
            ),
            sorted(
                (r["url"], r["pii_type"], r["start"], r["end"])
                for r in findings.collect()
            ),
            sorted(r["url"] for r in lineage.collect()),
            sum(r["docs_scanned"] for r in metrics.collect()),
        )

    out_clean = str(tmp_path_factory.mktemp("crash_clean"))
    run_pipeline(spark, str(src), out_clean, run_id="ok")
    ref = snapshot(out_clean)

    def boom(*a, **k):
        raise RuntimeError("injected sink crash")

    def replace(module, attr):
        return lambda mp: mp.setattr(module, attr, boom)

    def kill_after(module, attr, n):
        """Let ``module.attr`` run its n-th call to completion, then kill."""

        def patch(mp):
            real, calls = getattr(module, attr), []

            def wrapped(*a, **k):
                real(*a, **k)
                calls.append(1)
                if len(calls) == n:
                    boom()

            mp.setattr(module, attr, wrapped)

        return patch

    def poison_one_row(mp):
        real = pipemod.apply_prefilters
        first = sorted(ref[2])[0]

        def poisoned(*a, **k):
            return real(*a, **k).withColumn(
                "url",
                F.when(
                    F.col("url") == first,
                    F.raise_error(F.lit("injected sink crash")),
                ).otherwise(F.col("url")),
            )

        mp.setattr(pipemod, "apply_prefilters", poisoned)

    # seam -> (injection, what the crashed run raises); the publishes go
    # docs, findings, lineage
    seams = {
        "in_write_job": (poison_one_row, SparkRuntimeException),
        "before_publish": (
            replace(tables, "publish_staged"), RuntimeError
        ),
        "after_docs": (kill_after(tables, "_publish_table", 1), RuntimeError),
        "after_findings": (
            kill_after(tables, "_publish_table", 2), RuntimeError
        ),
        "after_lineage": (
            kill_after(tables, "_publish_table", 3), RuntimeError
        ),
        "after_metrics": (
            kill_after(checkpoint, "write_metrics", 1), RuntimeError
        ),
        "before_marker": (
            replace(pipemod, "mark_run_committed"), RuntimeError
        ),
    }
    for seam, (inject, raised) in seams.items():
        out = str(tmp_path_factory.mktemp(f"crash_{seam}"))
        with monkeypatch.context() as mp:
            inject(mp)
            with pytest.raises(raised, match="injected sink crash"):
                run_pipeline(spark, str(src), out, run_id="c1")
        # crashed run left no marker
        assert not pipemod.run_committed(out, "c1")
        # rerun under a fresh run_id: heal removes c1 partitions, the full
        # input reprocesses, tables match the never-crashed reference
        run_pipeline(spark, str(src), out, run_id="c2")
        got = snapshot(out)
        assert got == ref, f"seam {seam}: healed tables differ"
        # nothing from the crashed run survived
        docs = spark.read.parquet(_os.path.join(out, "docs"))
        assert docs.filter(docs.run_id == "c1").count() == 0


def test_dedup_delta_backfills_presignature_runs(spark, tmp_path_factory):
    """Enabling --dedup-near on an output whose earlier runs never
    shingled: the unsigned backlog is signed on the next delta run, so
    cross-run pairs with pre-flag docs are found."""
    import os as _os

    import pyarrow as pa
    import pyarrow.parquet as pq_

    base = (
        "the quick brown fox jumps over the lazy dog and then runs far "
        "away into the deep dark forest before the sun finally sets "
    ) * 4

    d1 = tmp_path_factory.mktemp("bf1")
    pq_.write_table(_delta_tbl(["https://bf0.example.com/a"], [base]),
                    str(d1 / "a.parquet"))
    d2 = tmp_path_factory.mktemp("bf2")
    pq_.write_table(
        _delta_tbl(
            ["https://bf0.example.com/a", "https://bf1.example.com/b"],
            [base, base + " near tail"],
        ),
        str(d2 / "b.parquet"),
    )
    out = str(tmp_path_factory.mktemp("bf_out"))

    # run 1 WITHOUT any dedup — doc bf0 is never shingled
    run_pipeline(spark, str(d1), out, run_id="r1", extract_html=False)
    assert not _os.path.isdir(_os.path.join(out, "signatures"))

    # run 2 with the flag: bf1 is new; bf0 is unsigned backlog
    run_pipeline(spark, str(d2), out, run_id="r2", extract_html=False,
                 dedup_near=True)
    sigs = spark.read.parquet(_os.path.join(out, "signatures"))
    assert sigs.count() == 2  # backlog + delta, all signed under r2
    nd = {
        r["url"]: (r["component"], r["is_canonical"])
        for r in spark.read.parquet(_os.path.join(out, "neardup")).collect()
    }
    # the cross-run near-dup pair was found
    assert nd["https://bf0.example.com/a"][0] == nd["https://bf1.example.com/b"][0]
    assert nd["https://bf0.example.com/a"][1] is True
    assert nd["https://bf1.example.com/b"][1] is False


def _delta_tbl(urls, texts):
    import pyarrow as pa

    schema = pa.schema(
        [
            ("url", pa.string()),
            ("warc_ts", pa.timestamp("us")),
            ("html", pa.binary()),
            ("text", pa.string()),
            ("lang", pa.string()),
        ]
    )
    n = len(urls)
    return pa.table(
        {"url": urls, "warc_ts": [None] * n, "html": [None] * n,
         "text": texts, "lang": [None] * n},
        schema=schema,
    )


_DELTA_BASE = (
    "the quick brown fox jumps over the lazy dog and then runs far "
    "away into the deep dark forest before the sun finally sets "
) * 4
_DELTA_UNIQ = (
    "completely different content about distributed query engines "
    "processing petabytes of web text with vectorized operators "
) * 4


def test_dedup_delta_resigns_changed_content(spark, tmp_path_factory):
    """A url GC'd and later re-scanned with DIFFERENT content must be
    re-signed (its old signature's content_md5 no longer matches) and its
    stale pairs dropped — the (url, content_md5) validity keying."""
    import os as _os

    import pyarrow.parquet as pq_

    u_stay = "https://cc0.example.com/stay"
    u_chg = "https://cc1.example.com/chg"
    d1 = tmp_path_factory.mktemp("cc1")
    pq_.write_table(
        _delta_tbl([u_stay, u_chg], [_DELTA_BASE, _DELTA_BASE + " near tail"]),
        str(d1 / "a.parquet"),
    )
    out = str(tmp_path_factory.mktemp("cc_out"))
    run_pipeline(spark, str(d1), out, run_id="c1", extract_html=False,
                 dedup_near=True)
    nd1 = {
        r["url"]: r for r in
        spark.read.parquet(_os.path.join(out, "neardup")).collect()
    }
    assert nd1[u_chg]["component"] == nd1[u_stay]["component"]  # paired

    # source drops u_chg → GC removes it; then it reappears with content
    # that is NOT a near-dup any more
    d2 = tmp_path_factory.mktemp("cc2")
    pq_.write_table(_delta_tbl([u_stay], [_DELTA_BASE]), str(d2 / "b.parquet"))
    run_pipeline(spark, str(d2), out, run_id="c2", extract_html=False,
                 gc_deleted=True, dedup_near=True)

    d3 = tmp_path_factory.mktemp("cc3")
    pq_.write_table(
        _delta_tbl([u_stay, u_chg], [_DELTA_BASE, _DELTA_UNIQ]),
        str(d3 / "c.parquet"),
    )
    run_pipeline(spark, str(d3), out, run_id="c3", extract_html=False,
                 dedup_near=True)
    nd3 = {
        r["url"]: r for r in
        spark.read.parquet(_os.path.join(out, "neardup")).collect()
    }
    # changed content: no longer clustered with u_stay, own component
    assert nd3[u_chg]["component"] != nd3[u_stay]["component"]
    assert nd3[u_chg]["is_canonical"] is True
    kept = {
        r["url"] for r in spark.read.parquet(
            _os.path.join(out, "docs_deduped")
        ).collect()
    }
    assert {u_stay, u_chg} <= kept


def test_dedup_delta_recovers_pairs_after_crash_between_appends(
    spark, tmp_path_factory, monkeypatch
):
    """Crash AFTER the signature append but BEFORE the pairs append: the
    docs are signed-but-unpaired; the next delta run must treat the
    unmarked signature run as pending and recompute its pairs."""
    import os as _os

    import pyarrow.parquet as pq_

    import pii_detector_spark.operators.delta_dedup as dd
    import pii_detector_spark.plans.pipeline as pipemod

    d1 = tmp_path_factory.mktemp("pc1")
    pq_.write_table(
        _delta_tbl(
            ["https://pc0.example.com/a", "https://pc1.example.com/b",
             "https://pc2.example.com/c"],
            [_DELTA_BASE, _DELTA_BASE + " near tail", _DELTA_UNIQ],
        ),
        str(d1 / "a.parquet"),
    )
    out = str(tmp_path_factory.mktemp("pc_out"))

    real_pairs = dd.minhash_pairs_delta

    def boom(*a, **k):
        raise RuntimeError("injected pairs crash")

    with monkeypatch.context() as mp:
        mp.setattr(dd, "minhash_pairs_delta", boom)
        with pytest.raises(RuntimeError, match="injected pairs crash"):
            run_pipeline(spark, str(d1), out, run_id="p1",
                         extract_html=False, dedup_near=True)
    # signatures landed; pairs and the pairing-coverage snapshot did not
    assert spark.read.parquet(_os.path.join(out, "signatures")).count() == 3
    assert not _os.path.isdir(_os.path.join(out, "neardup_pairs"))
    assert not _os.path.isdir(_os.path.join(out, "paired_sigs"))

    # next run (no new docs): the signed-but-unpaired signatures are
    # outside the (absent) snapshot, so their pairs are recomputed
    run_pipeline(spark, str(d1), out, run_id="p2", extract_html=False,
                 dedup_near=True)
    paired = spark.read.parquet(_os.path.join(out, "paired_sigs"))
    assert paired.count() == 3  # full coverage after the successful run
    nd = {
        r["url"]: r for r in
        spark.read.parquet(_os.path.join(out, "neardup")).collect()
    }
    assert (nd["https://pc0.example.com/a"]["component"]
            == nd["https://pc1.example.com/b"]["component"])
    assert dd.minhash_pairs_delta is real_pairs  # patch released
    del pipemod  # module import retained for parity with other tests


def test_dedup_delta_pairs_resurrected_url_against_absence_era_docs(
    spark, tmp_path_factory
):
    """Finding-1 regression: u2 is GC'd; u3 (a near-dup of u2's content)
    arrives while u2 is absent; u2 then reappears with its ORIGINAL
    content. Its old signature is valid again but was invisible when u3
    was paired — the paired_sigs coverage snapshot must flag it and
    compute the (u2, u3) pair."""
    import os as _os

    import pyarrow.parquet as pq_

    u1 = "https://ra0.example.com/u1"
    u2 = "https://ra1.example.com/u2"
    u3 = "https://ra2.example.com/u3"

    d1 = tmp_path_factory.mktemp("ra1")
    pq_.write_table(
        _delta_tbl([u1, u2], [_DELTA_UNIQ, _DELTA_BASE]), str(d1 / "a.parquet")
    )
    out = str(tmp_path_factory.mktemp("ra_out"))
    run_pipeline(spark, str(d1), out, run_id="r1", extract_html=False,
                 dedup_near=True)

    # u2 disappears at the source → GC
    d2 = tmp_path_factory.mktemp("ra2")
    pq_.write_table(_delta_tbl([u1], [_DELTA_UNIQ]), str(d2 / "b.parquet"))
    run_pipeline(spark, str(d2), out, run_id="r2", extract_html=False,
                 gc_deleted=True, dedup_near=True)

    # u3 (near-dup of u2's content) arrives while u2 is absent
    d3 = tmp_path_factory.mktemp("ra3")
    pq_.write_table(
        _delta_tbl([u1, u3], [_DELTA_UNIQ, _DELTA_BASE + " near tail"]),
        str(d3 / "c.parquet"),
    )
    run_pipeline(spark, str(d3), out, run_id="r3", extract_html=False,
                 dedup_near=True)

    # u2 resurrects with its ORIGINAL content (same md5 → old signature
    # becomes valid again without re-signing)
    d4 = tmp_path_factory.mktemp("ra4")
    pq_.write_table(
        _delta_tbl(
            [u1, u2, u3],
            [_DELTA_UNIQ, _DELTA_BASE, _DELTA_BASE + " near tail"],
        ),
        str(d4 / "d.parquet"),
    )
    run_pipeline(spark, str(d4), out, run_id="r4", extract_html=False,
                 dedup_near=True)

    nd = {
        r["url"]: r for r in
        spark.read.parquet(_os.path.join(out, "neardup")).collect()
    }
    # the absence-era pair was computed: u2 and u3 share a component
    assert nd[u2]["component"] == nd[u3]["component"], nd
    assert nd[u1]["component"] != nd[u2]["component"]
    kept = {
        r["url"] for r in spark.read.parquet(
            _os.path.join(out, "docs_deduped")
        ).collect()
    }
    assert u1 in kept and len({u2, u3} & kept) == 1


def test_dedup_delta_on_fully_prefiltered_input(spark, tmp_path_factory):
    """ADVICE r4 (medium): a run whose every url is prefiltered leaves the
    partitioned docs table with run_id dirs but NO data files; the dedup
    pass must read it with an explicit schema (UNABLE_TO_INFER_SCHEMA
    otherwise) and complete as a no-op."""
    import os as _os

    import pyarrow.parquet as pq_

    d = tmp_path_factory.mktemp("pf_src")
    pq_.write_table(
        _delta_tbl(
            ["https://x.example.com/a.png", "https://x.example.com/b.zip"],
            ["ignored", "ignored"],
        ),
        str(d / "pages.parquet"),
    )
    out = str(tmp_path_factory.mktemp("pf_out"))
    res = run_pipeline(
        spark, str(d / "pages.parquet"), out, run_id="pf1",
        extract_html=False, dedup_near=True,
    )
    assert res.docs_written == 0
    nd = spark.read.parquet(_os.path.join(out, "neardup"))
    assert nd.count() == 0


def test_heal_spark_escaped_run_id(spark, tmp_path_factory):
    """ADVICE r4 (low): Spark's partition escaping differs from urllib
    quote (``run 1+x`` is written literally); healing must locate the
    partition by listing+unquoting, not by re-deriving the name."""
    import os as _os

    import pyarrow.parquet as pq_

    from pii_detector_spark.plans.pipeline import (
        heal_uncommitted_runs,
        read_docs_table,
        run_pipeline as _rp,
    )

    d = tmp_path_factory.mktemp("esc_src")
    pq_.write_table(
        _delta_tbl(["https://esc.example.com/1"], [_DELTA_UNIQ]),
        str(d / "p.parquet"),
    )
    out = str(tmp_path_factory.mktemp("esc_out"))
    rid = "run 1+x (batch)"
    _rp(spark, str(d / "p.parquet"), out, run_id=rid, extract_html=False)
    # Spark writes the space/'+'/'(' literally — the partition exists
    docs_dirs = _os.listdir(_os.path.join(out, "docs"))
    assert any("run 1+x" in e for e in docs_dirs), docs_dirs
    # simulate a crash: remove the commit marker, then heal
    from pii_detector_spark.plans.tables import marker_path

    _os.remove(marker_path(out, rid))
    healed = heal_uncommitted_runs(spark, out)
    assert healed["docs"] == [rid]
    assert healed["lineage"] == [rid]
    assert read_docs_table(spark, out).count() == 0


def test_resume_skips_url_scanned_twice(spark, tmp_path_factory):
    """A url that appears twice in the input is scanned twice, so the
    lineage holds two rows for it; the resume anti-join (no distinct() on
    the lineage side) must still drop it, and write only the new url, once."""
    import pyarrow.parquet as pq_

    from pii_detector_spark.plans.pipeline import read_docs_table

    d = tmp_path_factory.mktemp("dup_src")
    dup, new = "https://dup.example.com/1", "https://dup.example.com/2"
    pq_.write_table(
        _delta_tbl([dup, dup], [_DELTA_BASE, _DELTA_BASE]), str(d / "a.parquet")
    )
    out = str(tmp_path_factory.mktemp("dup_out"))
    run_pipeline(spark, str(d / "a.parquet"), out, run_id="d1")
    lineage = spark.read.parquet(os.path.join(out, "lineage"))
    assert [r["url"] for r in lineage.collect()] == [dup, dup]

    pq_.write_table(
        _delta_tbl([dup, dup, new], [_DELTA_BASE, _DELTA_BASE, _DELTA_UNIQ]),
        str(d / "a.parquet"),
    )
    res = run_pipeline(spark, str(d / "a.parquet"), out, run_id="d2")
    assert res.docs_written == 1
    docs = read_docs_table(spark, out).filter("run_id = 'd2'")
    assert [r["url"] for r in docs.collect()] == [new]


def test_metrics_partition_written_by_driver(spark, tmp_path_factory):
    """The driver writes a run's metrics rows into the partition dir of its
    docs (named with Spark's own escaping), one row per docs file, with
    types identical to a Spark-written partition under ``METRICS_SCHEMA``
    and under schema inference; heal removes it."""
    import pyarrow.parquet as pq_
    from pyspark.sql import functions as F

    from pii_detector_spark.plans import checkpoint
    from pii_detector_spark.plans.pipeline import (
        heal_uncommitted_runs,
        read_docs_table,
    )
    from pii_detector_spark.plans.tables import unmark_run
    from pii_detector_spark.sources.datagen import write_web_pages

    src = tmp_path_factory.mktemp("mdrv_src") / "pages.parquet"
    write_web_pages(str(src), n_rows=120, seed=7)
    out = str(tmp_path_factory.mktemp("mdrv_out"))
    rid = "r 1+x:y"
    run_pipeline(spark, str(src), out, run_id=rid)

    metrics_dir = checkpoint.metrics_path(out)
    docs_parts = os.listdir(os.path.join(out, "docs"))
    parts = [e for e in os.listdir(metrics_dir) if e.startswith("run_id=")]
    assert parts == [e for e in docs_parts if e.startswith("run_id=")]
    assert "%3A" in parts[0], parts  # Spark escaped the ':'
    files = [
        f for f in os.listdir(os.path.join(metrics_dir, parts[0]))
        if not f.startswith((".", "_"))
    ]
    assert len(files) == 1, files

    # the per-file counters of the docs re-read
    per_file: dict[str, dict] = {}
    for r in (
        read_docs_table(spark, out)
        .filter(F.col("run_id") == rid)
        .select(F.col("_metadata.file_name").alias("file"), "*")
        .collect()
    ):
        m = per_file.setdefault(
            r["file"],
            {
                "partition_id": int(r["file"].split("-")[1]),
                "docs_scanned": 0,
                "docs_kept": 0,
                "drop_reasons": Counter(),
                "pii_hits": Counter(),
            },
        )
        m["docs_scanned"] += 1
        m["docs_kept"] += r["keep"]
        if r["drop_reason"] is not None:
            m["drop_reasons"][r["drop_reason"]] += 1
        m["pii_hits"].update(f["pii_type"] for f in r["findings"] or [])
    want = checkpoint.build_metrics(list(per_file.values()))
    got = pq_.read_table(os.path.join(metrics_dir, parts[0], files[0]))
    assert got.schema == want.schema
    assert got.to_pylist() == want.to_pylist()
    assert want.num_rows > 0

    # a parent-style partition beside it: the same rows, written by Spark
    rows = [
        (
            r["partition_id"], r["docs_scanned"], r["docs_kept"],
            dict(r["drop_reasons"]), dict(r["pii_hits"]), "old",
        )
        for r in want.to_pylist()
    ]
    spark.createDataFrame(rows, checkpoint.METRICS_SCHEMA).write.mode(
        "append"
    ).partitionBy("run_id").parquet(metrics_dir)
    for reader in (spark.read.schema(checkpoint.METRICS_SCHEMA), spark.read):
        table = reader.parquet(metrics_dir)
        by_run = {}
        for r in table.collect():
            d = r.asDict()
            by_run.setdefault(d.pop("run_id"), []).append(d)
        assert set(by_run) == {rid, "old"}
        assert sorted(by_run[rid], key=repr) == sorted(by_run["old"], key=repr)
    inferred = [
        spark.read.parquet(os.path.join(metrics_dir, p)).schema
        for p in os.listdir(metrics_dir)
        if p.startswith("run_id=")
    ]
    assert inferred[0] == inferred[1]
    assert spark.read.parquet(metrics_dir).schema == spark.read.schema(
        checkpoint.METRICS_SCHEMA
    ).parquet(metrics_dir).schema

    unmark_run(out, rid)
    assert rid in heal_uncommitted_runs(spark, out)["metrics"]
    assert not os.path.exists(os.path.join(metrics_dir, parts[0]))


def test_neardup_rewrite_crash_leaves_readable_tables(
    spark, tmp_path_factory, monkeypatch
):
    """ADVICE r4 (low): the neardup/docs_deduped rewrites go through
    write-aside + replace_dir, so a crash mid-rewrite leaves the OLD tables
    intact (plain in-place overwrite would delete them first)."""
    import os as _os

    import pyarrow.parquet as pq_

    from pii_detector_spark.plans import tables

    d = tmp_path_factory.mktemp("sw_src")
    pq_.write_table(
        _delta_tbl(
            ["https://sw.example.com/1", "https://sw.example.com/2"],
            [_DELTA_BASE, _DELTA_UNIQ],
        ),
        str(d / "p.parquet"),
    )
    out = str(tmp_path_factory.mktemp("sw_out"))
    run_pipeline(spark, str(d / "p.parquet"), out, run_id="sw1",
                 extract_html=False, dedup_near=True)
    before = {
        r["url"] for r in
        spark.read.parquet(_os.path.join(out, "neardup")).collect()
    }
    assert before

    real_swap = tables.replace_dir

    def killed_swap(path, tmp):
        raise RuntimeError("injected kill before swap")

    monkeypatch.setattr(tables, "replace_dir", killed_swap)
    with pytest.raises(RuntimeError, match="injected kill"):
        run_pipeline(spark, str(d / "p.parquet"), out, run_id="sw2",
                     extract_html=False, dedup_near=True)
    # old table survived the crash, readable and complete
    after = {
        r["url"] for r in
        spark.read.parquet(_os.path.join(out, "neardup")).collect()
    }
    assert after == before
    # healed rerun converges
    monkeypatch.setattr(tables, "replace_dir", real_swap)
    run_pipeline(spark, str(d / "p.parquet"), out, run_id="sw3",
                 extract_html=False, dedup_near=True)
    assert {
        r["url"] for r in
        spark.read.parquet(_os.path.join(out, "neardup")).collect()
    } == before


def test_job_cli_decontaminate_and_pack(spark, tmp_path_factory, monkeypatch):
    """The spark-submit entry point end-to-end with the round-5 flags:
    --decontaminate-against writes a 'contamination' table keyed by url;
    --pack-budget writes a 'shards' table over kept docs; --dedup-near
    writes the keep-one tables. A rerun whose 'nb_scores' rewrite fails
    keeps the previous table readable."""
    import os as _os
    import sys

    import pyarrow.parquet as pq_

    keep_text = (
        "meanwhile the curious cat walks along the quiet river and then "
        "sits beside the old wooden bridge while the evening light fades "
    ) * 4
    other = (
        "the quick brown fox jumps over the lazy dog and then runs far "
        "away into the deep dark forest before the sun finally sets "
    ) * 4
    src = tmp_path_factory.mktemp("cli_src")
    urls = [f"https://cli.example.com/{i}" for i in range(4)]
    pq_.write_table(
        _delta_tbl(urls, [keep_text, other, keep_text + " tail", other + " x"]),
        str(src / "p.parquet"),
    )
    bench_dir = tmp_path_factory.mktemp("cli_bench")
    pq_.write_table(
        _delta_tbl(["bench://1"], [keep_text]), str(bench_dir / "b.parquet")
    )
    labels_dir = tmp_path_factory.mktemp("cli_labels")
    import pyarrow as pa_

    pq_.write_table(
        pa_.table({
            "label": [True, True, False, False],
            "text": [keep_text, keep_text + " bridge", other, other + " fox"],
        }),
        str(labels_dir / "l.parquet"),
    )
    out = str(tmp_path_factory.mktemp("cli_out"))

    import jobs.run_quality_filter as job

    monkeypatch.setattr(sys, "argv", [
        "run_quality_filter.py",
        "--input", str(src / "p.parquet"),
        "--output", out,
        "--run-id", "cli1",
        "--no-html",
        "--decontaminate-against", str(bench_dir / "b.parquet"),
        "--decontaminate-ngram", "5",
        "--pack-budget", "100",
        "--pack-materialize",
        "--host-cap", "10", "--host-cap-exact",
        "--nb-labels", str(labels_dir / "l.parquet"),
        "--dedup-near",
    ])
    # the job builds its own session via getOrCreate -> reuses the test one
    monkeypatch.setattr(
        type(spark), "stop", lambda self: None, raising=False
    )
    job.main()

    cont = {
        r["url"]: (r["n_hit_grams"], r["is_contaminated"])
        for r in spark.read.parquet(_os.path.join(out, "contamination")).collect()
    }
    # docs built from keep_text overlap the benchmark; others don't
    assert cont[urls[0]][1] is True and cont[urls[0]][0] > 0
    assert cont[urls[2]][1] is True
    assert cont[urls[1]] == (0, False) and cont[urls[3]] == (0, False)

    # --dedup-near: the keep-one tables and the pass's signatures, with
    # the kept set of the pure-Python reference
    for t in ("neardup", "docs_deduped", "signatures"):
        assert _os.path.isdir(_os.path.join(out, t)), t
    texts = [keep_text, other, keep_text + " tail", other + " x"]
    ref = oracle_near_dedup(
        {u: oracle_decide(u, t).scrubbed_text for u, t in zip(urls, texts)}
    )
    assert {u for u, (_, canon) in ref.items() if not canon}
    assert {
        r["url"] for r in
        spark.read.parquet(_os.path.join(out, "docs_deduped")).collect()
    } == {u for u, (_, canon) in ref.items() if canon}

    capped = spark.read.parquet(_os.path.join(out, "docs_capped"))
    assert capped.count() == capped.select("url").distinct().count()

    nb = {
        r["url"]: r["nb_keep"]
        for r in spark.read.parquet(_os.path.join(out, "nb_scores")).collect()
    }
    # classifier trained on keep_text-as-positive keeps the river docs
    # and rejects the fox docs among whatever the rule gates kept
    for u, keep in nb.items():
        assert keep is (urls.index(u) % 2 == 0)

    shards = spark.read.parquet(_os.path.join(out, "shards")).collect()
    kept_urls = {
        r["url"] for r in
        spark.read.parquet(_os.path.join(out, "docs"))
        .filter("keep").collect()
    }
    assert {r["url"] for r in shards} == kept_urls
    assert all(r["shard_id"] >= 0 for r in shards)
    # cumulative totals are a permutation-consistent prefix sum
    tot = sum(r["n_tokens"] for r in shards)
    assert max(r["cum_tokens"] for r in shards) == tot

    # --pack-materialize: physical shard table + manifest agree with the
    # assignment table
    data = spark.read.parquet(_os.path.join(out, "shard_data")).collect()
    assert {r["url"]: r["shard_id"] for r in data} == {
        r["url"]: r["shard_id"] for r in shards
    }
    man = spark.read.parquet(_os.path.join(out, "shard_manifest")).collect()
    assert sum(r["n_docs"] for r in man) == len(data)
    assert sum(r["n_tokens"] for r in man) == tot

    # a rerun whose nb_scores rewrite fails part-way keeps the old table
    from pyspark.sql import functions as F

    from pii_detector_spark.operators import nbquality

    def nb_rows():
        return sorted(
            spark.read.parquet(_os.path.join(out, "nb_scores")).collect()
        )

    before = nb_rows()
    assert before
    real_score = nbquality.score_nb
    monkeypatch.setattr(
        nbquality, "score_nb",
        lambda *a, **k: real_score(*a, **k).withColumn(
            "boom", F.raise_error(F.lit("nb_scores write failed"))
        ),
    )
    monkeypatch.setattr(
        sys, "argv", [a if a != "cli1" else "cli2" for a in sys.argv]
    )
    with pytest.raises(Exception, match="nb_scores write failed"):
        job.main()
    assert nb_rows() == before


def test_job_cli_canonical_dedup_and_fix_text(
    spark, tmp_path_factory, monkeypatch
):
    """--canonical-dedup collapses url families (latest warc_ts capture
    wins) before the scan; --fix-text writes the repaired-text side table
    without touching the byte-identity docs table."""
    import datetime as dt
    import os as _os
    import sys

    import pyarrow as pa_
    import pyarrow.parquet as pq_

    base_text = (
        "meanwhile the curious cat walks along the quiet river and then "
        "sits beside the old wooden bridge while the evening light fades "
    ) * 4
    # two canonical families x two captures each; the later capture of
    # each family carries mojibake for --fix-text to repair
    urls = [
        "https://www.siteA.com/p?utm_source=x",   # family A, old
        "https://siteA.com/p",                    # family A, new
        "http://www.siteB.com:80/q/",             # family B, old
        "http://siteB.com/q?utm_campaign=c",      # family B, new
    ]
    texts = [
        base_text + " old a",
        base_text + " new caf\u00c3\u00a9 a",    # 'cafÃ©' -> 'café'
        base_text + " old b",
        base_text + " new caf\u00c3\u00a9 b",
    ]
    ts = [
        dt.datetime(2024, 1, 1),
        dt.datetime(2024, 1, 2),
        dt.datetime(2024, 1, 1),
        dt.datetime(2024, 1, 2),
    ]
    schema = pa_.schema(
        [("url", pa_.string()), ("warc_ts", pa_.timestamp("us")),
         ("html", pa_.binary()), ("text", pa_.string()),
         ("lang", pa_.string())]
    )
    tbl = pa_.table(
        {"url": urls, "warc_ts": ts, "html": [None] * 4, "text": texts,
         "lang": [None] * 4},
        schema=schema,
    )
    src = tmp_path_factory.mktemp("canon_src")
    pq_.write_table(tbl, str(src / "p.parquet"))
    out = str(tmp_path_factory.mktemp("canon_out"))

    import jobs.run_quality_filter as job

    monkeypatch.setattr(sys, "argv", [
        "run_quality_filter.py",
        "--input", str(src / "p.parquet"),
        "--output", out,
        "--run-id", "canon1",
        "--no-html",
        "--canonical-dedup",
        "--fix-text",
        "--dedup-substring", "8",
    ])
    monkeypatch.setattr(
        type(spark), "stop", lambda self: None, raising=False
    )
    job.main()

    canon = spark.read.parquet(_os.path.join(out, "input_canonical"))
    rows = {r["canonical_url"]: r["url"] for r in canon.collect()}
    assert rows == {
        "https://sitea.com/p": "https://siteA.com/p",
        "http://siteb.com/q": "http://siteB.com/q?utm_campaign=c",
    }

    docs = spark.read.parquet(_os.path.join(out, "docs")).collect()
    assert {r["url"] for r in docs} == set(rows.values())
    # the docs table keeps the damaged bytes (byte-identity contract) ...
    by_url = {r["url"]: r["scrubbed_text"] for r in docs}
    assert all("caf\u00c3\u00a9" in t for t in by_url.values())

    # ... and docs_fixed carries the repaired text
    fixed = {
        r["url"]: r["text_fixed"]
        for r in spark.read.parquet(_os.path.join(out, "docs_fixed")).collect()
    }
    assert set(fixed) == set(rows.values())
    assert all("caf\u00e9" in t and "\u00c3" not in t for t in fixed.values())

    # --dedup-substring 8: url-keyed window dedup over kept docs. The two
    # survivors share the long base_text, so the lexicographically first
    # url keeps its first period and the other loses the shared windows;
    # totals shrink, urls and ids (string-keyed) survive intact.
    wdd = {
        r["url"]: r["text"]
        for r in spark.read.parquet(
            _os.path.join(out, "docs_window_deduped")
        ).collect()
    }
    assert set(wdd) == set(rows.values())
    orig_tokens = sum(len(t.split()) for t in by_url.values())
    dedup_tokens = sum(len(t.split()) for t in wdd.values())
    assert 0 < dedup_tokens < orig_tokens
    canonical_url = min(wdd)
    assert wdd[canonical_url].startswith("meanwhile the curious cat")


def test_job_cli_dsir_ppl_semdedup_expire(
    spark, tmp_path_factory, monkeypatch
):
    """The spark-submit entry point with the data-selection flags:
    --dsir-target writes url-keyed importance weights, --ppl-buckets
    writes CCNet tiers, --semdedup-embeddings writes semantic-dup
    verdicts, --expire-keep-last prunes the snapshot log."""
    import os as _os
    import sys

    import pyarrow as pa_
    import pyarrow.parquet as pq_

    river = (
        "meanwhile the curious cat walks along the quiet river and then "
        "sits beside the old wooden bridge while the evening light fades "
    ) * 4
    fox = (
        "the quick brown fox jumps over the lazy dog and then runs far "
        "away into the deep dark forest before the sun finally sets "
    ) * 4
    src = tmp_path_factory.mktemp("dsr_src")
    urls = [f"https://dsr.example.com/{i}" for i in range(4)]
    texts = [river, fox, river + " tail words", fox + " extra bits"]
    # a fifth url the planted robots rules disallow: must never be scanned
    pq_.write_table(
        _delta_tbl(
            urls + ["https://dsr.example.com/blocked/5"],
            texts + [river + " blocked page"],
        ),
        str(src / "p.parquet"),
    )
    robots_dir = tmp_path_factory.mktemp("dsr_robots")
    pq_.write_table(
        pa_.table(
            {
                "host": ["dsr.example.com"],
                "robots_txt": ["User-agent: *\nDisallow: /blocked/\n"],
            }
        ),
        str(robots_dir / "r.parquet"),
    )

    tgt_dir = tmp_path_factory.mktemp("dsr_tgt")
    pq_.write_table(
        pa_.table({"text": [river, river + " calm water"]}),
        str(tgt_dir / "t.parquet"),
    )

    emb_dir = tmp_path_factory.mktemp("dsr_emb")
    pq_.write_table(
        pa_.table(
            {
                "vec_id": urls,
                "embedding": [
                    [1.0, 0.0, 0.0],
                    [0.999, 0.02, 0.0],  # near-dup of urls[0]
                    [0.0, 1.0, 0.0],
                    [0.0, 0.0, 1.0],
                ],
            },
            schema=pa_.schema(
                [("vec_id", pa_.string()),
                 ("embedding", pa_.list_(pa_.float64()))]
            ),
        ),
        str(emb_dir / "e.parquet"),
    )
    out = str(tmp_path_factory.mktemp("dsr_out"))

    import jobs.run_quality_filter as job

    monkeypatch.setattr(sys, "argv", [
        "run_quality_filter.py",
        "--input", str(src / "p.parquet"),
        "--output", out,
        "--run-id", "dsr1",
        "--no-html",
        "--robots", str(robots_dir / "r.parquet"),
        "--dsir-target", str(tgt_dir / "t.parquet"),
        "--ppl-buckets",
        "--semdedup-embeddings", str(emb_dir / "e.parquet"),
        "--semdedup-tau", "0.99",
        "--semdedup-cells", "1",
        "--bpe-merges", "15",
        "--expire-keep-last", "1",
    ])
    monkeypatch.setattr(
        type(spark), "stop", lambda self: None, raising=False
    )
    job.main()

    w = {
        r["url"]: r["dsir_weight_fp"]
        for r in spark.read.parquet(
            _os.path.join(out, "dsir_weights")
        ).collect()
    }
    all_scanned = {
        r["url"] for r in
        spark.read.parquet(_os.path.join(out, "docs")).collect()
    }
    # the robots-disallowed url never entered the pipeline
    assert "https://dsr.example.com/blocked/5" not in all_scanned
    assert all_scanned == set(urls)
    kept = {
        r["url"] for r in
        spark.read.parquet(_os.path.join(out, "docs"))
        .filter("keep").collect()
    }
    assert set(w) == kept
    # river docs resemble the target sample; fox docs don't
    rivers = [w[u] for u in (urls[0], urls[2]) if u in w]
    foxes = [w[u] for u in (urls[1], urls[3]) if u in w]
    assert rivers and foxes
    assert min(rivers) > max(foxes)

    tiers = spark.read.parquet(_os.path.join(out, "ppl_buckets")).collect()
    assert {r["url"] for r in tiers} == kept
    assert all(r["bucket"] in ("head", "middle", "tail") for r in tiers)
    assert all(r["word_ppl"] > 0 for r in tiers)

    dups = {
        r["vec_id"]: r["dropped"]
        for r in spark.read.parquet(
            _os.path.join(out, "semantic_dups")
        ).collect()
    }
    assert dups == {
        urls[0]: False, urls[1]: True, urls[2]: False, urls[3]: False
    }

    merges = spark.read.parquet(_os.path.join(out, "bpe_merges")).collect()
    assert len(merges) == 15
    assert sorted(r["rank"] for r in merges) == list(range(15))
    bc = {
        r["url"]: r["n_bpe_tokens"]
        for r in spark.read.parquet(
            _os.path.join(out, "bpe_counts")
        ).collect()
    }
    assert set(bc) == kept and all(v > 0 for v in bc.values())

    from pii_detector_spark.plans import snapshots as S

    assert S.current_snapshot_id(out) == 1
    assert S.snapshot_log(out)[-1].run_ids == ("dsr1",)


@pytest.mark.parametrize("escaped", ["false", "true"])
def test_prefilters_under_both_string_literal_modes(spark, escaped):
    """``apply_prefilters`` is SQL text with the two url regexes in it; it
    must keep and drop the same rows whether or not
    ``spark.sql.parser.escapedStringLiterals`` is on (a backslash in a
    literal reads differently in the two modes)."""
    import re

    from pii_detector_spark.sources.web_pages import (
        BLOCKED_EXT_RX,
        LOG_PATH_RX,
        WEB_PAGES_SCHEMA,
        apply_prefilters,
    )

    urls = [
        "https://a.test/x.PNG",
        "https://a.test/x.tar.gz",
        "https://a.test/xpng",  # no dot: the escaped '.' must stay literal
        "https://a.test/x.png/page",
        "https://a.test/it's\\.jpeg",
        "https://a.test/VPCFlowLogs/1",
        "https://a.test/cloudtrail",
        "https://a.test/my-log.html",
        "https://a.test/ok.html",
    ]
    rows = [(u, None, None, "body", None) for u in urls] + [
        ("https://a.test/none", None, None, None, None),
        ("https://a.test/big", None, b"x" * 9, None, None),
        ("https://a.test/small", None, b"x" * 8, None, None),
    ]
    df = spark.createDataFrame(rows, WEB_PAGES_SCHEMA)
    prev = spark.conf.get("spark.sql.parser.escapedStringLiterals")
    try:
        spark.conf.set("spark.sql.parser.escapedStringLiterals", escaped)
        kept = {r["url"] for r in apply_prefilters(df, 8).collect()}
    finally:
        spark.conf.set("spark.sql.parser.escapedStringLiterals", prev)
    want = {
        u for u in urls
        if not re.search(BLOCKED_EXT_RX, u) and not re.search(LOG_PATH_RX, u)
    }
    assert want == {
        "https://a.test/xpng",
        "https://a.test/x.png/page",
        "https://a.test/ok.html",
    }
    assert kept == want | {"https://a.test/small"}
