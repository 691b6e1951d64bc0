"""Multimodal stub contract: every media op must (a) run its real
Arrow/mapInPandas plumbing with the deterministic fake, and (b) fail
loudly with NotImplementedError -- not silently fake -- when asked for
real decoding in this media-lib-less container."""

from __future__ import annotations

import pytest

from flink_ad_analytics_spark.operators.multimodal import (
    assets_from_documents,
    decode_assets,
    resize_assets,
    sample_frames,
)
from tests.conftest import SF_SMOKE


@pytest.fixture()
def assets(spark):
    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    return assets_from_documents(docs)


@pytest.mark.parametrize(
    "op", [decode_assets, resize_assets, sample_frames],
    ids=["decode", "resize", "frames"],
)
def test_real_decode_raises_not_implemented(assets, op):
    with pytest.raises(Exception) as exc_info:
        op(assets).collect()  # fake defaults to False
    # the executor wraps the python error; the contract message must
    # survive into the driver-visible exception
    assert "NotImplementedError" in str(exc_info.value) or isinstance(
        exc_info.value, NotImplementedError
    )


def test_fake_paths_produce_rows(assets):
    assert decode_assets(assets, fake=True).count() > 0
    resized = resize_assets(assets, fake=True, max_side=64)
    rows = resized.collect()
    assert rows and all(max(r.width, r.height) <= 240 for r in rows)
    # anything that needed scaling tops out at exactly max_side
    scaled = [r for r in rows if max(r.width, r.height) <= 64]
    assert scaled, "some asset should scale to the 64px bound"
    frames = sample_frames(assets, fake=True)
    per_asset = frames.groupBy("asset_id").count().collect()
    assert per_asset and all(1 <= r["count"] <= 30 for r in per_asset)


def test_pcm_frame_stats_planted_payload(spark):
    """Hand-computed s16le payload: 64 samples = 2 full frames plus a
    3-sample tail (dropped), one silent frame, one loud frame with a
    known peak and two hot samples; a second asset below one frame and
    a third with a NULL payload vanish entirely."""
    import struct

    from flink_ad_analytics_spark.operators.multimodal import pcm_frame_stats

    quiet = [100, -100] * 16            # frame 0: energy 32*100^2 << floor
    # frame 1: all near-peak -> energy 32*30000^2 = 2.88e10, above the
    # 32*20000^2 = 1.28e10 silence floor; every sample hot
    loud = [30000, -30000] * 16
    tail = [5, 5, 5]                      # partial frame: dropped
    samples = quiet + loud + tail
    payload = struct.pack(f"<{len(samples)}h", *samples)
    short = struct.pack("<3h", 1, 2, 3)   # < 32 samples: no output row
    assets = spark.createDataFrame(
        [
            (1, "audio/pcm", bytearray(payload)),
            (2, "audio/pcm", bytearray(short)),
            (3, "audio/pcm", None),
        ],
        "asset_id long, mime string, payload binary",
    )
    rows = pcm_frame_stats(assets).collect()
    assert len(rows) == 1
    r = rows[0]
    assert r.asset_id == 1
    assert r.n_samples == 67
    assert r.n_frames == 2
    assert r.peak == 30000
    assert r.silence_frames == 1
    assert r.hot_samples == 32
    expected_energy = sum(s * s for s in quiet) + sum(s * s for s in loud)
    assert r.total_energy == expected_energy


def test_pcm_random_payloads_match_python_reference(spark):
    """Seeded random s16le payloads (odd byte counts, empty, short,
    peak values included) vs an independent pure-Python computation of
    the same frame stats -- catches sign/endianness/framing slips the
    planted-payload test's tidy values could miss."""
    import random
    import struct

    from flink_ad_analytics_spark.operators.multimodal import pcm_frame_stats

    rng = random.Random(20260814)
    payloads = {}
    for aid in range(20):
        n = rng.choice([0, 1, 7, 31, 32, 33, 64, 257, 1024])
        samples = [rng.randint(-32768, 32767) for _ in range(n)]
        raw = struct.pack(f"<{n}h", *samples)
        if rng.random() < 0.3:
            raw += b"\x7f"  # trailing odd byte: not a full sample
        payloads[aid] = (raw, samples)

    def ref(samples, w=32, silence=20000, hot=28000):
        n_full = len(samples) // w
        if n_full == 0:
            return None
        frames = [samples[i * w:(i + 1) * w] for i in range(n_full)]
        return (
            len(samples), n_full,
            sum(s * s for f in frames for s in f),
            max(abs(s) for f in frames for s in f),
            sum(1 for f in frames if sum(s * s for s in f) < w * silence**2),
            sum(1 for f in frames for s in f if abs(s) >= hot),
        )

    assets = spark.createDataFrame(
        [(aid, "audio/pcm", bytearray(raw)) for aid, (raw, _) in payloads.items()],
        "asset_id long, mime string, payload binary",
    )
    got = {r.asset_id: (r.n_samples, r.n_frames, r.total_energy, r.peak,
                        r.silence_frames, r.hot_samples)
           for r in pcm_frame_stats(assets).collect()}
    expected = {}
    for aid, (raw, _) in payloads.items():
        samples = list(struct.unpack(f"<{len(raw)//2}h", raw[: len(raw) // 2 * 2]))
        r = ref(samples)
        if r is not None:
            expected[aid] = r
    assert got == expected
    assert len(expected) >= 5  # the seed produced full-frame assets
