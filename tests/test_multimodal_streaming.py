"""Multimodal decode — real stdlib PNG/WAV codecs (exact pixel/sample
stats through the distributed mapInPandas kernels) plus the fake-decoder
plumbing path and the streaming driver."""

from __future__ import annotations

import tempfile

import pytest
from pyspark.sql import functions as F

from obp_search_engine_spark.operators import multimodal as mm


@pytest.fixture(scope="module")
def media(spark):
    return mm.synth_media_df(spark, n=30, seed=42).cache()


def test_decode_image_features_fake(media):
    feats = mm.decode_image_features(media, decoder="fake")
    rows = feats.collect()
    assert len(rows) == 10  # 30 rows, every 3rd is an image
    for r in rows:
        assert r.width >= 64 and r.height >= 64 and 1 <= r.channels <= 4
        assert len(r.feature) == 8
    # determinism across runs
    again = {r.media_id: (r.phash, r.feature) for r in mm.decode_image_features(media, decoder="fake").collect()}
    assert {r.media_id: (r.phash, r.feature) for r in rows} == again


def test_decode_real_rejects_non_png(media):
    # the stdlib real codec decodes PNG; random-byte payloads must raise
    # the dependency note, not silently fake
    with pytest.raises(Exception) as ei:
        mm.decode_image_features(media, decoder="real").collect()
    assert "NotImplementedError" in str(ei.value) or isinstance(
        ei.value, NotImplementedError
    )


@pytest.fixture(scope="module")
def real_media(spark):
    """Media table whose image payloads are REAL PNGs (mixed scanline
    filters, varied channel counts) and audio payloads are REAL 16-bit PCM
    WAVs — ground-truth pixel/sample arrays kept alongside."""
    import numpy as np

    rows, truth = [], {}
    mid = 0
    for ch in (1, 2, 3, 4):
        png, img = mm.synth_png_bytes(
            w=20 + ch, h=12 + ch, channels=ch, seed=100 + ch, filter_type="mixed"
        )
        rows.append((mid, "image", png, ("image/png", img.shape[1], img.shape[0])))
        truth[mid] = img
        mid += 1
    for sr, sec, amp, nch in [(8000, 0.25, 0.5, 1), (16000, 0.125, 0.25, 2)]:
        wav, x = mm.synth_wav_bytes(sr=sr, seconds=sec, amplitude=amp, n_channels=nch)
        rows.append((mid, "audio", wav, ("audio/wav", None, None)))
        truth[mid] = (sr, nch, x)
        mid += 1
    df = spark.createDataFrame(rows, mm.MEDIA_SCHEMA).repartition(4).cache()
    return df, truth


def test_decode_image_features_real_png_exact(real_media):
    """Real pixels through the distributed kernel: width/height/channels
    and per-channel mean/std features must equal stats computed on the
    ground-truth pixel array (no fake path anywhere)."""
    import numpy as np

    df, truth = real_media
    got = {r.media_id: r for r in mm.decode_image_features(df, decoder="real").collect()}
    assert sorted(got) == [0, 1, 2, 3]
    for mid, r in got.items():
        img = truth[mid]
        h, w, ch = img.shape
        assert (r.width, r.height, r.channels) == (w, h, ch)
        pix = img.astype(float)
        exp = []
        for c in range(ch):
            exp.append(round(float(pix[:, :, c].mean()) / 255.0, 6))
            exp.append(round(float(pix[:, :, c].std()) / 255.0, 6))
        exp = (exp + [0.0] * 8)[:8]
        assert [round(float(v), 6) for v in r.feature] == pytest.approx(exp, abs=1e-6)
        # phash is the documented average-hash of the true pixels
        assert r.phash == mm._ahash64(img)


def test_decode_png_kernel_matches_local_decode(real_media):
    """Executor-side decode == driver-side decode, byte for byte."""
    import numpy as np

    df, truth = real_media
    payloads = {
        r.media_id: bytes(r.payload)
        for r in df.filter(F.col("kind") == "image").collect()
    }
    for mid, png in payloads.items():
        assert np.array_equal(mm.decode_png(png), truth[mid])


def test_decode_audio_features_real_wav_exact(real_media):
    import numpy as np

    df, truth = real_media
    got = {r.media_id: r for r in mm.decode_audio_features(df).collect()}
    assert sorted(got) == [4, 5]
    for mid, r in got.items():
        sr, nch, x = truth[mid]
        assert r.sample_rate == sr and r.n_channels == nch
        assert r.n_samples == len(x) // nch
        assert r.duration_sec == pytest.approx(len(x) / nch / sr, abs=1e-12)
        exp_rms = float(np.sqrt(np.mean((x.astype(np.float64) / 32768.0) ** 2)))
        assert r.rms == pytest.approx(exp_rms, abs=1e-12)


def test_decode_png_unsupported_shapes_raise():
    png, img = mm.synth_png_bytes(w=8, h=8, channels=3, seed=1, filter_type=0)
    with pytest.raises(ValueError):
        mm.decode_png(b"notapng" + png)
    # 16-bit depth is out of the stdlib subset: patch IHDR depth byte
    import struct as _s

    depth_off = 8 + 8 + 8  # sig + IHDR len/tag + w/h
    bad = bytearray(png)
    bad[depth_off] = 16
    with pytest.raises(ValueError):
        mm.decode_png(bytes(bad))


def test_frame_sampling_shapes(media):
    frames = mm.sample_frames(media, n_frames=4)
    rows = frames.collect()
    vids = {r.media_id for r in rows}
    assert all(k % 3 == 1 for k in vids)  # only 'video' rows fan out
    per = {}
    for r in rows:
        per.setdefault(r.media_id, []).append(r.frame_idx)
    for idxs in per.values():
        assert sorted(idxs) == [0, 1, 2, 3]
    # frames are deterministic slices of the payload
    payloads = {r.media_id: bytes(r.payload) for r in media.filter(F.col("kind") == "video").collect()}
    for r in rows:
        b = payloads[r.media_id]
        step = max(1, len(b) // 4)
        assert bytes(r.frame_bytes) == b[r.frame_idx * step : (r.frame_idx + 1) * step]


def test_streaming_rounds_advance_checkpoint(spark):
    from obp_search_engine_spark.operators.checkpoint import latest_round
    from obp_search_engine_spark.sources.pages import synth_pages_df
    from obp_search_engine_spark.streaming.rounds import stream_crawl_rounds

    from obp_search_engine_spark.functions.extract import harvest_col

    pages = synth_pages_df(spark, 200, 4, seed=9).cache()
    # a seed page with no outlinks would exhaust the crawl in one round —
    # pick the first url that actually links out
    links = harvest_col(F.col("html"), with_text=False)["links"]
    seed_url = pages.filter(F.size(links) > 0).orderBy("url").first().url
    with tempfile.TemporaryDirectory() as ckpt:
        q = stream_crawl_rounds(
            spark, pages, ckpt, seeds=[seed_url], tick_seconds=1, max_rounds=2
        )
        try:
            import time

            deadline = time.monotonic() + 180
            while time.monotonic() < deadline and (latest_round(ckpt) or 0) < 2:
                time.sleep(1)
        finally:
            q.stop()
        assert (latest_round(ckpt) or 0) >= 2


def test_decode_image_features_over_stream(spark, tmp_path, real_media):
    """The decode kernels are plain mapInPandas, so the same plan must run
    under Structured Streaming (file source -> decode -> memory sink) and
    produce exactly the batch rows — the shape a crawl pipeline uses to
    feature-extract media as pages land."""
    df, truth = real_media
    path = tmp_path / "media_stream"
    path.mkdir()
    images = df.filter(F.col("kind") == "image")
    images.write.mode("append").parquet(str(path))
    stream = spark.readStream.schema(images.schema).parquet(str(path))
    q = (
        mm.decode_image_features(stream, decoder="real")
        .writeStream.format("memory")
        .queryName("media_feats")
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = {
        r.media_id: (r.width, r.height, r.channels, r.phash)
        for r in spark.table("media_feats").collect()
    }
    want = {
        r.media_id: (r.width, r.height, r.channels, r.phash)
        for r in mm.decode_image_features(images, decoder="real").collect()
    }
    assert got == want and len(got) == 4
