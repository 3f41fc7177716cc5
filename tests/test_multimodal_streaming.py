"""Multimodal binary-column plumbing + Structured Streaming operators."""

from __future__ import annotations

from pyspark.sql import functions as F

from miru_spark.operators import multimodal as mm


def test_decode_images_plumbing(spark, documents):
    bin_tbl = mm.synthesize_binary_table(documents.limit(50), "doc_id", "text")
    assert dict(bin_tbl.dtypes)["payload"] == "binary"
    out = mm.decode_images(bin_tbl, "item", "payload").toPandas()
    assert len(out) == 50
    assert set(out.columns) == {"item", "n_bytes", "width", "height", "features"}
    assert all(len(f) == 8 for f in out["features"])
    # deterministic across partitionings
    out2 = mm.decode_images(bin_tbl.repartition(7), "item", "payload").toPandas()
    a = out.sort_values("item").reset_index(drop=True)
    b = out2.sort_values("item").reset_index(drop=True)
    assert a.equals(b)


def test_resize_and_frames(spark, documents):
    bin_tbl = mm.synthesize_binary_table(documents.limit(20), "doc_id", "text")
    rs = mm.resize_images(bin_tbl, "item", "payload", target=224).toPandas()
    assert (rs["width"] == 224).all() and len(rs) == 20
    fr = mm.sample_frames(bin_tbl, "item", "payload", every_n=10, max_frames=4).toPandas()
    assert fr.groupby("item").size().max() <= 4
    assert (fr["frame"] % 10 == 0).all()


def test_streaming_waveform(spark, sf_dir, tmp_path):
    import shutil

    from miru_spark.streaming.windowed import streaming_waveform

    # FileStreamSource wants a directory of files
    stream_dir = tmp_path / "events_stream"
    stream_dir.mkdir()
    shutil.copy(f"{sf_dir}/events.parquet", stream_dir / "part-0.parquet")
    static = spark.read.parquet(f"{sf_dir}/events.parquet")
    agg = streaming_waveform(
        spark, str(stream_dir), static.schema, window="1 day", watermark="2 days"
    )
    q = (
        agg.writeStream.outputMode("complete")
        .format("memory")
        .queryName("wf_out")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = spark.sql("SELECT group_value, sum(n) AS n FROM wf_out GROUP BY 1").toPandas()
    want = (
        static.groupBy(F.col("event_type").alias("group_value"))
        .agg(F.count(F.lit(1)).alias("n"))
        .toPandas()
    )
    m = got.merge(want, on="group_value", suffixes=("_s", "_b"))
    assert len(m) == len(want) and (m["n_s"] == m["n_b"]).all()


def test_streaming_index_sip(spark, sf_dir, tmp_path):
    from miru_spark.streaming.windowed import streaming_index_sip

    import shutil

    stream_dir = tmp_path / "docs_stream"
    stream_dir.mkdir()
    shutil.copy(f"{sf_dir}/documents.parquet", stream_dir / "part-0.parquet")
    static = spark.read.parquet(f"{sf_dir}/documents.parquet")
    index_dir = str(tmp_path / "sip_index")
    writer = streaming_index_sip(
        spark, str(stream_dir), static.schema, index_dir,
        text_col="text", dense_id_col="doc_id", capacity=128,
    )
    q = writer.start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    packed = spark.read.parquet(f"{index_dir}/segments/epoch=*")
    assert packed.count() > 0
    # postings must equal the batch build's
    from miru_spark.operators import build as B

    batch = B.packed_from_flat(
        B.flat_postings(B.prepare_docs(static, "text", "doc_id", None, 128), "text")
    )
    a = packed.selectExpr("sum(df_part)", "sum(cum_tf_part)", "count(*)").collect()[0]
    b = batch.selectExpr("sum(df_part)", "sum(cum_tf_part)", "count(*)").collect()[0]
    assert tuple(a) == tuple(b)


def test_streaming_sip_dedup(spark, tmp_path):
    # WAL replay dedup (MiruSipTracker): duplicate (key, version) rows across
    # micro-batches are suppressed; only strictly newer versions emit
    from miru_spark.streaming.windowed import streaming_sip_dedup

    src = str(tmp_path / "wal")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    import os

    os.makedirs(src, exist_ok=True)
    schema = "part long, version long, payload string"

    def run_batch(rows):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode("append").parquet(src)
        stream = spark.readStream.schema(schema).parquet(src)
        q = (
            streaming_sip_dedup(stream, "part", "version")
            .writeStream.format("parquet")
            .option("path", out)
            .outputMode("append")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    run_batch([(0, 1, "a"), (0, 2, "b"), (0, 2, "b-dup"), (1, 5, "x")])
    got1 = {(r["part"], r["version"]) for r in spark.read.parquet(out).collect()}
    assert got1 == {(0, 1), (0, 2), (1, 5)}
    # replay batch: old versions suppressed by state, new ones pass
    run_batch([(0, 2, "replay"), (0, 3, "new"), (1, 4, "stale"), (2, 1, "fresh-key")])
    got2 = {(r["part"], r["version"]) for r in spark.read.parquet(out).collect()}
    assert got2 == {(0, 1), (0, 2), (1, 5), (0, 3), (2, 1)}


def test_bmp_ppm_round_trip_real_decode(spark):
    # round 4: BMP/PPM decode is REAL (zero-dependency struct/numpy), not
    # the fake — encode with the in-repo encoders, decode through the Spark
    # operator, check exact dimensions and pixel-derived features
    import numpy as np

    from miru_spark.operators.multimodal import (
        _image_features,
        decode_images,
        encode_bmp,
        encode_ppm,
    )

    rng = np.random.Generator(np.random.PCG64(7))
    img_a = rng.integers(0, 256, size=(13, 21, 3), dtype=np.uint8)  # odd width → row padding
    img_b = rng.integers(0, 256, size=(8, 8, 3), dtype=np.uint8)
    rows = [(1, bytearray(encode_bmp(img_a))), (2, bytearray(encode_ppm(img_b)))]
    df = spark.createDataFrame(rows, "item long, payload binary")
    got = {r["item"]: r for r in decode_images(df, "item", "payload").collect()}
    assert (got[1]["width"], got[1]["height"]) == (21, 13)
    assert (got[2]["width"], got[2]["height"]) == (8, 8)
    np.testing.assert_allclose(got[1]["features"], _image_features(img_a), rtol=1e-6)
    np.testing.assert_allclose(got[2]["features"], _image_features(img_b), rtol=1e-6)
    # grayscale uniform image: mean features are exact
    flat = np.full((4, 6, 3), 128, dtype=np.uint8)
    df2 = spark.createDataFrame([(3, bytearray(encode_bmp(flat)))], "item long, payload binary")
    r3 = decode_images(df2, "item", "payload").collect()[0]
    assert abs(r3["features"][0] - 128 / 255) < 1e-6
    assert abs(r3["features"][3]) < 1e-6  # zero std


def test_wav_round_trip_real_decode(spark):
    import numpy as np

    from miru_spark.operators.multimodal import decode_audio, encode_wav

    rate = 8000
    t = np.arange(rate) / rate  # 1 second
    sine = 0.5 * np.sin(2 * np.pi * 100 * t)  # 100 Hz, amp 0.5
    df = spark.createDataFrame(
        [(1, bytearray(encode_wav(sine, rate)))], "item long, payload binary"
    )
    r = decode_audio(df, "item", "payload").collect()[0]
    assert r["channels"] == 1 and r["sample_rate"] == rate and r["bits"] == 16
    assert r["n_samples"] == rate and abs(r["duration_s"] - 1.0) < 1e-9
    assert abs(r["rms"] - 0.5 / np.sqrt(2)) < 1e-3
    assert abs(r["peak"] - 0.5) < 1e-3
    assert abs(r["zero_cross"] - 200) <= 2  # 100 Hz → ~200 crossings/second


def test_compressed_formats_still_fake(spark):
    # non-BMP/PPM payloads keep the clearly-marked deterministic fake
    from miru_spark.operators.multimodal import _decode_image, _decode_image_fake

    import numpy as np

    payload = b"\x89PNG\r\n\x1a\nfakepngbytes"
    got, want = _decode_image(payload), _decode_image_fake(payload)
    assert got[:2] == want[:2]
    np.testing.assert_array_equal(got[2], want[2])


def test_streaming_unread_tracker(spark, tmp_path):
    # MiruUnreadTrackingIndex applyUnread/applyRead as a stateful streaming
    # op: two micro-batches, state (unread set + watermark) carries across
    import pandas as pd

    from miru_spark.streaming.windowed import streaming_unread

    stream_dir = tmp_path / "inbox_stream"
    stream_dir.mkdir()
    b1 = pd.DataFrame(
        {
            "stream": ["u1"] * 4 + ["u2"],
            "doc": [1, 2, 3, 4, 9],
            "kind": ["add"] * 5,
            "seq": [1, 2, 3, 4, 5],
        }
    )
    b1.to_parquet(stream_dir / "batch1.parquet")
    schema = spark.read.parquet(str(stream_dir / "batch1.parquet")).schema
    src = spark.readStream.format("parquet").schema(schema).load(str(stream_dir))
    q = (
        streaming_unread(src, "stream", "doc", "kind", "seq")
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("unread_out")
        .start()
    )
    try:
        q.processAllAvailable()
        got = {
            r["stream"]: (r["n_unread"], r["last_read"])
            for r in spark.sql("SELECT * FROM unread_out").collect()
        }
        assert got["u1"] == (4, -1) and got["u2"] == (1, -1)
        # batch 2: u1 reads through doc 2 then gets doc 5; a late doc 1 add
        # must NOT resurface as unread (it is behind the watermark)
        b2 = pd.DataFrame(
            {
                "stream": ["u1", "u1", "u1"],
                "doc": [2, 5, 1],
                "kind": ["read", "add", "add"],
                "seq": [1, 2, 3],
            }
        )
        b2.to_parquet(stream_dir / "batch2.parquet")
        q.processAllAvailable()
        rows = spark.sql(
            "SELECT * FROM unread_out WHERE stream = 'u1' ORDER BY last_read DESC"
        ).collect()
        # latest state row: unread = {3, 4, 5}, watermark 2
        assert (rows[0]["n_unread"], rows[0]["last_read"]) == (3, 2)
    finally:
        q.stop()


def test_synth_media_table_closed_form_contract(spark, documents):
    """The gate oracle for multimodal_decode_stats recomputes decode outputs
    as closed-form functions of doc_id — pin that contract here: real decode
    of the synthesized payloads must equal the formulas (incl. the float32
    pixel/sample paths the SQL oracle replays)."""
    import numpy as np

    from miru_spark.operators import multimodal as mm

    media = mm.synth_media_table(documents.select("doc_id").limit(64), "doc_id")
    img = {r["item"]: r for r in mm.decode_images(media, "item", "img").collect()}
    aud = {r["item"]: r for r in mm.decode_audio(media, "item", "wav").collect()}
    assert len(img) == len(aud) > 0
    for d, r in img.items():
        w, h = 4 + d % 13, 4 + (d * 7) % 11
        assert (r["width"], r["height"]) == (w, h)
        assert r["n_bytes"] == 54 + ((w * 3 + 3) // 4) * 4 * h
        gray = np.float32((d % 256 / 255.0 + d * 7 % 256 / 255.0 + d * 13 % 256 / 255.0) / 3.0)
        assert r["features"][4] == gray and r["features"][5] == gray
    for d, r in aud.items():
        n = 50 + d % 64
        assert r["n_samples"] == n and r["zero_cross"] == n - 1
        assert r["n_bytes"] == 44 + 2 * n
        assert r["sample_rate"] == 8000 + (d % 4) * 4000
        amp = 0.25 + (d % 4) * 0.1
        assert r["peak"] == np.float32(np.trunc(amp * 32767.0) / 32768.0)
