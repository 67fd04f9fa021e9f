from __future__ import annotations

import datetime
import hashlib

import pytest
from pyspark.sql import functions as F

from webgraph_ans_rs_spark.operators.multimodal import (
    _fake_decode,
    attach_payload_meta,
    decode_image_batches,
    frame_sample,
)
from webgraph_ans_rs_spark.streaming.windows import (
    sessionize,
    windowed_event_counts,
)


@pytest.fixture(scope="module")
def events(spark):
    t0 = datetime.datetime(2024, 1, 1)
    rows = []
    for i in range(200):
        rows.append(
            (
                i,
                t0 + datetime.timedelta(minutes=3 * i),
                i % 7,
                ["click", "view", "error"][i % 3],
                float(i),
            )
        )
    return spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string, value double"
    )


def test_windowed_counts_batch(events):
    out = windowed_event_counts(events).collect()
    total = sum(r.n_events for r in out)
    assert total == 200
    # 200 events * 3 min = 600 min = 10 hours of windows
    starts = {r.window_start for r in out}
    assert len(starts) == 10
    for r in out:
        assert r.window_start.minute == 0


def test_windowed_counts_streaming_matches_batch(spark, events, tmp_path):
    """Same transformation through a real file-source stream == batch."""
    src = str(tmp_path / "stream_src")
    events.write.parquet(src)
    stream = spark.readStream.schema(events.schema).parquet(src)
    agg = windowed_event_counts(stream, watermark="1 hour")
    q = (
        agg.writeStream.format("memory")
        .queryName("winq")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r.window_start, r.event_type): (r.n_events, r.total_value)
        for r in spark.sql("select * from winq").collect()
    }
    want = {
        (r.window_start, r.event_type): (r.n_events, r.total_value)
        for r in windowed_event_counts(events).collect()
    }
    assert got == want


def test_sessionize(spark):
    t0 = datetime.datetime(2024, 1, 1)
    rows = [
        (1, t0),
        (1, t0 + datetime.timedelta(minutes=10)),  # same session
        (1, t0 + datetime.timedelta(hours=2)),  # new session
        (2, t0),
    ]
    df = spark.createDataFrame(rows, "user_id long, ts timestamp")
    out = sessionize(df).collect()
    per_user = {}
    for r in out:
        per_user.setdefault(r.user_id, []).append(r.n_events)
    assert sorted(per_user[1]) == [1, 2]
    assert per_user[2] == [1]


@pytest.fixture(scope="module")
def payloads(spark):
    rows = [
        (0, b"\x89PNG\r\n\x1a\n" + b"x" * 100),
        (1, b"\xff\xd8\xff\xe0" + b"y" * 50),
        (2, b"plain bytes"),
        (3, None),
    ]
    return spark.createDataFrame(rows, "key long, payload binary")


def test_attach_payload_meta(payloads):
    out = {r.key: r for r in attach_payload_meta(payloads).collect()}
    assert out[0].payload_kind == "png"
    assert out[1].payload_kind == "jpeg"
    assert out[2].payload_kind == "unknown"
    assert out[0].payload_len == 108
    assert out[3].payload_md5 is None


def test_payload_kind_webm_text_matches_oracle(spark):
    """The webm magic \\x1aE\\xdf\\xa3 IS valid UTF-8 (U+001A 'E' U+07E3),
    so adversarial *text* can classify as webm — the engine and the DuckDB
    oracle must agree on it (the oracle mirrors the prefix as
    chr(26)||chr(69)||chr(2019))."""
    import duckdb

    from webgraph_ans_rs_spark.plans.oracles_pipeline import multimodal_meta_sql

    s = chr(0x1A) + "E" + chr(0x7E3)
    assert s.encode() == b"\x1aE\xdf\xa3"
    rows = [(1, s + " tail"), (2, "GIF8abc"), (3, "RIFFxxxx"), (4, "plain")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    eng = {
        r.doc_id: r.payload_kind
        for r in attach_payload_meta(
            df.select("doc_id", F.col("text").cast("binary").alias("payload"))
        ).collect()
    }
    con = duckdb.connect()
    con.execute("CREATE TABLE documents(doc_id BIGINT, text VARCHAR)")
    con.executemany("INSERT INTO documents VALUES (?, ?)", rows)
    orc = {r[0]: r[3] for r in con.execute(multimodal_meta_sql()).fetchall()}
    assert eng == orc == {1: "webm", 2: "gif", 3: "riff", 4: "unknown"}


def test_decode_image_batches_deterministic(payloads):
    a = {r.key: (r.kind, r.width, r.height, tuple(r.features)) for r in decode_image_batches(payloads).collect()}
    b = {r.key: (r.kind, r.width, r.height, tuple(r.features)) for r in decode_image_batches(payloads).collect()}
    assert a == b
    assert a[0][0] == "png"
    assert all(len(v[3]) == 8 for v in a.values())
    assert all(16 <= v[1] <= 255 for v in a.values())


def test_frame_sample_shape(payloads):
    out = frame_sample(payloads, every_n=10, max_frames=5).collect()
    per_key = {}
    for r in out:
        per_key.setdefault(r.key, []).append(r.frame_idx)
    for key, idxs in per_key.items():
        assert len(idxs) <= 5
        assert idxs == sorted(idxs)
        assert all(i % 10 == 0 for i in idxs)


@pytest.mark.parametrize(
    "raw, kind",
    [
        (b"\x89PNG" + b"\x13\x37" * 20, "png"),
        (b"\xff\xd8\xff\xe0" + b"y" * 50, "jpeg"),
        (b"GIF89a" + hashlib.md5(b"fixture").digest() * 3, "gif"),
        (b"\x00\x00\x00\x08ftyp" + hashlib.md5(b"v").digest(), "unknown"),
    ],
    ids=["png-magic", "jpeg-magic", "gif-magic", "mp4-ftyp"],
)
def test_media_payloads_take_the_stub(spark, raw, kind):
    """Every media-magic payload gets the md5 stub from both kernels:
    ``_fake_decode``'s image and the md5 frame ids (a well-formed PNG
    does too, see tests/test_png.py)."""
    df = spark.createDataFrame([(7, bytearray(raw))], "key long, payload binary")
    row = decode_image_batches(df).collect()[0]
    w, h, c, feats = _fake_decode(raw)
    assert (row.kind, row.width, row.height, row.n_channels) == (kind, w, h, c)
    assert [round(x, 6) for x in row.features] == feats

    got = [
        (r.frame_idx, r.frame_md5)
        for r in frame_sample(df, every_n=10, max_frames=5).collect()
    ]
    n_frames = 1 + hashlib.md5(raw).digest()[3] % 50
    want = [
        (fi, hashlib.md5(raw + fi.to_bytes(4, "big")).hexdigest())
        for fi in range(0, n_frames, 10)
    ][:5]
    assert sorted(got) == want


def test_watermark_evicts_late_rows_append_mode(spark, tmp_path):
    """The thing watermarks exist for: in append mode a window is emitted
    once the watermark passes its end, and rows arriving later than the
    watermark for an already-emitted window are DROPPED, not re-aggregated.
    Driven through a real file-source stream across two availableNow passes
    sharing a checkpoint (state survives the restart)."""
    import datetime as dt

    src = str(tmp_path / "late_src")
    out_dir = str(tmp_path / "late_out")
    ckpt = str(tmp_path / "late_ckpt")
    t0 = dt.datetime(2024, 1, 1)
    schema = "event_id long, ts timestamp, user_id long, event_type string, value double"

    def write_batch(rows, name):
        spark.createDataFrame(rows, schema).write.mode("append").parquet(src)

    def run_pass():
        stream = spark.readStream.schema(schema).parquet(src)
        agg = windowed_event_counts(stream, window="1 hour", watermark="10 minutes")
        q = (
            agg.writeStream.format("parquet")
            .option("path", out_dir)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        q.stop()

    # pass 1: two rows in hour-0, one in hour-1, one at 03:00 that pushes
    # the watermark to 02:50 → hour-0 and hour-1 windows finalize + emit
    write_batch(
        [
            (0, t0 + dt.timedelta(minutes=5), 1, "click", 1.0),
            (1, t0 + dt.timedelta(minutes=15), 1, "click", 1.0),
            (2, t0 + dt.timedelta(minutes=65), 1, "click", 1.0),
            (3, t0 + dt.timedelta(hours=3), 1, "click", 1.0),
        ],
        "b1",
    )
    run_pass()
    got1 = {
        (r.window_start, r.n_events)
        for r in spark.read.parquet(out_dir).collect()
    }
    assert (t0, 2) in got1 and (t0 + dt.timedelta(hours=1), 1) in got1

    # pass 2: one LATE row for hour-0 (far below the 02:50 watermark) plus
    # one at 05:00 advancing the watermark → hour-3 finalizes; the late row
    # must be evicted, never re-emitting or changing the hour-0 window
    write_batch(
        [
            (4, t0 + dt.timedelta(minutes=20), 1, "click", 1.0),  # LATE
            (5, t0 + dt.timedelta(hours=5), 1, "click", 1.0),
        ],
        "b2",
    )
    run_pass()
    rows = spark.read.parquet(out_dir).collect()
    hour0 = [r for r in rows if r.window_start == t0]
    assert [r.n_events for r in hour0] == [2]  # emitted once, late row dropped
    assert (t0 + dt.timedelta(hours=3), 1) in {(r.window_start, r.n_events) for r in rows}
