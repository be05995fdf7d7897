from __future__ import annotations

from pyspark.sql import Row

SF = "/root/testdata/sf0.001"


def test_token_counts(spark):
    from pii_detector_spark.operators.textstats import token_counts

    df = spark.createDataFrame(
        [Row(doc_id=1, text="Hello, world! 42 times"), Row(doc_id=2, text="")]
    )
    out = {r["doc_id"]: r.asDict() for r in token_counts(df).collect()}
    assert out[1]["ws_tokens"] == 4
    # Hello , world ! 42 times → 6 BPE-ish tokens
    assert out[1]["bpe_tokens"] == 6
    assert out[2]["ws_tokens"] == 0
    assert out[2]["bpe_tokens"] == 0


def test_fingerprint_formatting_invariance(spark):
    from pii_detector_spark.operators.textstats import fingerprints

    df = spark.createDataFrame(
        [
            Row(doc_id=1, text="Hello,   World!"),
            Row(doc_id=2, text="hello world"),
            Row(doc_id=3, text="HELLO ... world"),
            Row(doc_id=4, text="different entirely"),
        ]
    )
    fp = {r["doc_id"]: r["fingerprint"] for r in fingerprints(df).collect()}
    assert fp[1] == fp[2] == fp[3]
    assert fp[4] != fp[1]


def test_multimodal_features(spark):
    from pii_detector_spark.operators.multimodal import (
        MEDIA_SCHEMA,
        extract_media_features,
        sample_frames,
    )

    rows = [
        (1, "image", b"\x00\x10\x20\x30" * 100, "image/fake", 10, 10, None),
        (2, "audio", b"\xff" * 50, "audio/fake", None, None, 1000),
        (3, "video", b"abcdefgh" * 512, "video/fake", 64, 48, 2000),
        (4, "image", b"", "image/fake", 0, 0, None),
    ]
    df = spark.createDataFrame(rows, schema=MEDIA_SCHEMA)
    feats = {r["media_id"]: r.asDict() for r in extract_media_features(df).collect()}
    assert len(feats) == 4
    assert feats[1]["n_bytes"] == 400
    assert len(feats[1]["features"]) == 16
    assert abs(sum(feats[1]["features"]) - 1.0) < 1e-6
    assert feats[4]["features"] == [0.0] * 16
    # deterministic
    feats2 = {r["media_id"]: r.asDict() for r in extract_media_features(df).collect()}
    assert feats == feats2

    frames = sample_frames(df, every_n_bytes=1024, max_frames=8).collect()
    assert all(r["media_id"] == 3 for r in frames)
    assert len(frames) == 4  # 4096 bytes / 1024
    assert all(len(r["frame_payload"]) == 1024 for r in frames)


def test_multimodal_real_decode_degrades_unknown_formats(spark):
    """decode_stub=False no longer raises (r4: PNG/WAV decode for real);
    formats without an in-repo codec degrade to null features per file
    while n_bytes/sha256 still materialize."""
    from pii_detector_spark.operators.multimodal import (
        MEDIA_SCHEMA,
        extract_media_features,
    )

    df = spark.createDataFrame(
        [(1, "image", b"xx", "image/fake", 1, 1, None)], schema=MEDIA_SCHEMA
    )
    rows = extract_media_features(df, decode_stub=False).collect()
    assert len(rows) == 1
    assert rows[0]["features"] is None
    assert rows[0]["n_bytes"] == 2 and rows[0]["sha256"]


def test_windowed_event_metrics(spark):
    from pii_detector_spark.operators.events import windowed_event_metrics

    events = spark.read.parquet(f"{SF}/events.parquet")
    out = windowed_event_metrics(events)
    rows = out.collect()
    assert len(rows) > 0
    total = sum(r["n_events"] for r in rows)
    assert total == events.count()
