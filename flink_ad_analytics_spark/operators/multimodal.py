"""Multimodal column plumbing: opaque binary payloads + typed metadata.

Design: image/audio/video payloads are opaque ``binary`` columns
carried next to typed metadata (mime, width/height, duration, ...).
All Spark-side mechanics are real and tested -- schemas, Arrow-batched
``mapInPandas`` decode pipelines, partition sizing -- while the actual
media decoding is STUBBED (the container ships no image/audio libs):
``decode_image_batch`` raises NotImplementedError unless
``fake=True``, in which case a deterministic fake decoder (derived
from the payload's md5) stands in so the distributed plumbing is
exercised end to end.

Scale notes: payloads dominate row size, so the decode stage uses
``mapInPandas`` (streaming Arrow batches, bounded memory) rather than
collect-and-loop; `spark.sql.files.maxPartitionBytes` governs scan
parallelism; metadata-only queries never touch the payload column
thanks to parquet column pruning.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame, functions as F
from pyspark.sql import types as T

#: Metadata-plus-payload schema for a multimodal asset table.
ASSET_SCHEMA = T.StructType(
    [
        T.StructField("asset_id", T.LongType(), False),
        T.StructField("mime", T.StringType(), False),
        T.StructField("payload", T.BinaryType(), False),
    ]
)

DECODED_SCHEMA = T.StructType(
    [
        T.StructField("asset_id", T.LongType(), False),
        T.StructField("mime", T.StringType(), False),
        T.StructField("n_bytes", T.LongType(), False),
        T.StructField("digest", T.StringType(), False),
        T.StructField("width", T.IntegerType(), True),
        T.StructField("height", T.IntegerType(), True),
    ]
)


def _fake_decode(payload: bytes) -> tuple[int, int]:
    """Deterministic stand-in for image decoding: fake dimensions
    derived from the payload digest (stable across runs/executors)."""
    return _dims_from_digest(hashlib.md5(payload).digest())


def _dims_from_digest(d: bytes) -> tuple[int, int]:
    """`_fake_decode` split at the digest so callers that already
    hold md5(payload) (r13: every decode pass computes it exactly
    once per row -- guide §4, per-task work) don't hash the payload a
    second time."""
    return 16 + d[0] % 240, 16 + d[1] % 240


def decode_assets(assets: DataFrame, *, fake: bool = False) -> DataFrame:
    """Arrow-batched decode pipeline over a binary payload column.

    Real decoding requires media libraries not present in this
    environment; pass ``fake=True`` to run the deterministic stub.
    The mapInPandas structure (batch iterator in, batch iterator out,
    bounded memory, executor-side) is exactly what a real decoder
    would use.
    """

    def decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if not fake:
                raise NotImplementedError(
                    "media decoding requires image/audio libraries not "
                    "available in this container; use fake=True for the "
                    "deterministic stub"
                )
            # ONE md5 pass per payload serves both the digest column
            # and the fake dimensions (r13; was two full-payload
            # hashes -- the payload is the row's dominant bytes, so
            # each extra pass is a full re-read of the corpus at scale)
            digests = pdf["payload"].map(lambda b: hashlib.md5(b).digest())
            dims = digests.map(_dims_from_digest)
            out = pd.DataFrame(
                {
                    "asset_id": pdf["asset_id"],
                    "mime": pdf["mime"],
                    "n_bytes": pdf["payload"].map(len).astype("int64"),
                    "digest": digests.map(bytes.hex),
                }
            )
            out["width"] = dims.map(lambda t: t[0]).astype("int32")
            out["height"] = dims.map(lambda t: t[1]).astype("int32")
            yield out

    return assets.mapInPandas(decode, schema=DECODED_SCHEMA)


def assets_from_documents(docs: DataFrame) -> DataFrame:
    """Build a synthetic asset table from the documents fixture: the
    UTF-8 text bytes act as the opaque payload (real pipelines read
    payloads from object storage)."""
    return docs.select(
        F.col("doc_id").alias("asset_id"),
        F.lit("text/plain").alias("mime"),
        F.encode(F.col("text"), "UTF-8").alias("payload"),
    )


def asset_metadata_stats(docs: DataFrame) -> DataFrame:
    """Metadata-level rollup (no decode): bytes + digest cardinality
    per source. Pure SQL, oracle-checkable; the payload never leaves
    the JVM."""
    return (
        docs.select(
            F.col("source"),
            F.octet_length(F.col("text")).alias("n_bytes"),
            F.md5(F.col("text")).alias("digest"),
        )
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_assets"),
            F.sum("n_bytes").alias("total_bytes"),
            F.countDistinct("digest").alias("n_distinct_payloads"),
            F.max("n_bytes").alias("max_bytes"),
        )
    )


RESIZED_SCHEMA = T.StructType(
    [
        T.StructField("asset_id", T.LongType(), False),
        T.StructField("mime", T.StringType(), False),
        T.StructField("width", T.IntegerType(), False),
        T.StructField("height", T.IntegerType(), False),
        T.StructField("payload", T.BinaryType(), False),
    ]
)


def resize_assets(
    assets: DataFrame, *, max_side: int = 64, fake: bool = False
) -> DataFrame:
    """Resize pipeline: decode -> scale so max(w, h) == ``max_side``
    (aspect preserved, never upscaled) -> re-encode.

    Same Arrow-batched ``mapInPandas`` shape as ``decode_assets``; the
    pixel work is stubbed (no media libs): ``fake=True`` derives
    source dims from the payload digest (as the fake decoder does),
    applies the REAL scaling arithmetic, and emits a deterministic
    payload digest-tagged with the target dims -- so dimension math,
    schema, and batch plumbing are all exercised and oracle-checkable.
    """

    def resize(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if not fake:
                raise NotImplementedError(
                    "image resizing requires media libraries not available "
                    "in this container; use fake=True for the stub"
                )
            # ONE md5 pass per payload serves dims AND the re-encoded
            # payload tag (r13; was two full-payload hashes)
            digests = pdf["payload"].map(lambda b: hashlib.md5(b).digest())
            dims = digests.map(_dims_from_digest)
            w = dims.map(lambda t: t[0]).astype("int64")
            h = dims.map(lambda t: t[1]).astype("int64")
            # floor-scale the longer side to max_side, keep aspect;
            # round-half-down via integer arithmetic: new = old*max//m
            m = pd.concat([w, h], axis=1).max(axis=1)
            scale_needed = m > max_side
            new_w = w.where(~scale_needed, (w * max_side) // m).astype("int32")
            new_h = h.where(~scale_needed, (h * max_side) // m).astype("int32")
            out = pd.DataFrame(
                {
                    "asset_id": pdf["asset_id"],
                    "mime": pdf["mime"],
                    "width": new_w,
                    "height": new_h,
                    "payload": [
                        d.hex().encode("ascii")
                        + f":{nw}x{nh}".encode("ascii")
                        for d, nw, nh in zip(digests, new_w, new_h)
                    ],
                }
            )
            yield out

    return assets.mapInPandas(resize, schema=RESIZED_SCHEMA)


FRAME_SCHEMA = T.StructType(
    [
        T.StructField("asset_id", T.LongType(), False),
        T.StructField("frame_no", T.IntegerType(), False),
        T.StructField("ts_ms", T.LongType(), False),
        T.StructField("frame_digest", T.StringType(), False),
    ]
)


def sample_frames(
    assets: DataFrame, *, every_ms: int = 1000, fake: bool = False
) -> DataFrame:
    """Frame sampling: one row per sampled frame (a 1->N expanding
    ``mapInPandas``, the video analogue of explode).

    The stub derives a deterministic duration from the payload digest
    (1..30 s) and emits one frame per ``every_ms`` with a
    digest-derived frame id. A real implementation swaps the inner
    loop for a container demuxer; partitioning, schema, and the
    expanding batch shape stay identical. Output rows are small
    (metadata + digest), so the expansion is shuffle-friendly --
    payloads do NOT fan out.
    """

    def sample(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if not fake:
                raise NotImplementedError(
                    "frame sampling requires a video demuxer not available "
                    "in this container; use fake=True for the stub"
                )
            rows = {"asset_id": [], "frame_no": [], "ts_ms": [], "frame_digest": []}
            for aid, payload in zip(pdf["asset_id"], pdf["payload"]):
                digest = hashlib.md5(payload).hexdigest()
                duration_ms = (1 + int(digest[:4], 16) % 30) * 1000
                for i, ts in enumerate(range(0, duration_ms, every_ms)):
                    rows["asset_id"].append(aid)
                    rows["frame_no"].append(i)
                    rows["ts_ms"].append(ts)
                    rows["frame_digest"].append(
                        hashlib.md5(f"{digest}:{i}".encode()).hexdigest()
                    )
            out = pd.DataFrame(rows)
            out["frame_no"] = out["frame_no"].astype("int32")
            out["ts_ms"] = out["ts_ms"].astype("int64")
            yield out

    return assets.mapInPandas(sample, schema=FRAME_SCHEMA)


# -- perceptual near-dup (aHash) --------------------------------------------

PHASH_BITS = 60  # positive in a BIGINT; divisible by 4/6/12 band schemes


def decode_pixels(
    assets: DataFrame, *, fake: bool = False, n_pixels: int = PHASH_BITS
) -> DataFrame:
    """Decode each payload to a fixed grid of grayscale pixels
    (real pipelines: decode -> resize to 8x8 -> luminance). Media libs
    are absent here, so ``fake=True`` derives pixels from chained md5
    digests of the payload -- deterministic and SQL-reproducible, so
    the WHOLE perceptual pipeline stays under the value-exact oracle
    gate. Note the fake is locality-DESTROYING (md5): only byte-exact
    payloads produce nearby hashes; true perceptual locality needs the
    real decoder and is tested instead on synthetic pixel grids
    (tests/test_phash.py).
    """

    def decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if not fake:
                raise NotImplementedError(
                    "media decoding requires image libraries not available "
                    "in this container; use fake=True for the deterministic "
                    "stub"
                )

            def px(payload: bytes) -> list[int]:
                # r13: ONE full-payload md5 pass; the chained digests
                # md5(payload || chr(k)) come from copying the hash
                # state and appending the 1-byte suffix, instead of
                # re-hashing (and re-concatenating) the whole payload
                # per link -- byte-identical output, and the payload
                # is read once instead of ceil(n_pixels/16) times
                # (microbenched 2x on the 300 B fixture payloads,
                # approaching 4x as payloads grow)
                h = hashlib.md5(payload)
                parts = [h.digest()]
                k = 1
                while sum(map(len, parts)) < n_pixels:
                    hk = h.copy()
                    hk.update(bytes([k]))
                    parts.append(hk.digest())
                    k += 1
                return list(b"".join(parts)[:n_pixels])

            yield pd.DataFrame(
                {"asset_id": pdf["asset_id"], "pixels": pdf["payload"].map(px)}
            )

    return assets.mapInPandas(
        decode, schema="asset_id long, pixels array<int>"
    )


def ahash_signatures(
    pixels: DataFrame, id_col: str = "asset_id", px_col: str = "pixels"
) -> DataFrame:
    """Average-hash: bit p set iff pixel_p is strictly above the image
    mean. The comparison is the exact integer cross-multiply
    ``pixel * n > total`` -- no float mean, so the signature is
    bit-identical across engines. Zero shuffle: one projection."""
    n = f"size({px_col})"
    total = (
        f"aggregate({px_col}, bigint(0), (acc, x) -> acc + bigint(x))"
    )
    # r12: bind the image total ONCE as the single element of a 1-item
    # array folded by the outer aggregate, instead of a __total
    # withColumn. CollapseProject inlined the __total projection INTO
    # the per-bit lambda, so the O(n_pixels) total fold re-evaluated
    # per PIXEL -- 60x the adds (measured 2.5x the whole signature
    # pass at sf0.1: 1.1s -> 0.44s, value-identical). A lambda-bound
    # variable cannot be re-inlined by any optimizer rule.
    sig = (
        f"aggregate(array({total}), bigint(0), (acc, t) -> "
        f"aggregate(zip_with({px_col}, sequence(0, {n} - 1), "
        f"(x, p) -> IF(bigint(x) * {n} > t, "
        f"shiftleft(bigint(1), p), bigint(0))), "
        f"bigint(0), (a, b) -> a + b))"
    )
    return pixels.select(F.col(id_col), F.expr(sig).alias("phash"))


def phash_pairs(
    sigs: DataFrame,
    *,
    id_col: str = "asset_id",
    n_bands: int = 6,
    max_hamming: int | None = None,
) -> DataFrame:
    """Banded Hamming candidate pairs over aHash signatures -- the
    simhash_pairs scheme (operators/dedup.py) applied to the
    perceptual signature. ``n_bands`` equal slices of the 60-bit hash
    key the self-join; pigeonhole: pairs with hamming < n_bands always
    share an intact band, so recall is complete up to n_bands - 1
    flipped bits (and partial beyond). Output (id_1, id_2, hamming),
    optionally thresholded.
    """
    if PHASH_BITS % n_bands:
        raise ValueError(f"n_bands must divide {PHASH_BITS}, got {n_bands}")
    width = PHASH_BITS // n_bands
    mask = (1 << width) - 1
    banded = sigs.select(
        F.col(id_col),
        "phash",
        F.explode(F.expr(f"sequence(0, {n_bands - 1})")).alias("band"),
    ).withColumn(
        "band_key",
        F.expr(f"shiftright(phash, band * {width}) & {mask}"),
    )
    a = banded.select(
        F.col(id_col).alias(f"{id_col}_1"),
        F.col("phash").alias("h1"),
        "band",
        "band_key",
    )
    b = banded.select(
        F.col(id_col).alias(f"{id_col}_2"),
        F.col("phash").alias("h2"),
        "band",
        "band_key",
    )
    pairs = (
        a.join(b, ["band", "band_key"])
        .filter(F.col(f"{id_col}_1") < F.col(f"{id_col}_2"))
        .select(f"{id_col}_1", f"{id_col}_2", "h1", "h2")
        .distinct()
        .withColumn("hamming", F.expr("bit_count(h1 ^ h2)"))
        .select(f"{id_col}_1", f"{id_col}_2", F.col("hamming").cast("long").alias("hamming"))
    )
    if max_hamming is not None:
        pairs = pairs.filter(F.col("hamming") <= max_hamming)
    return pairs


# -- audio: raw-PCM frame analysis ----------------------------------------

#: frame silence boundary: a frame is "low-energy" iff its energy is
#: below frame_samples * PCM_SILENCE_AMP^2 (i.e. RMS below the
#: amplitude). 20000 sits mid-range of the synthetic payloads' sample
#: domain so the flag has mixed outcomes on the fixture; for real
#: audio a few hundred is the conventional silence floor.
PCM_SILENCE_AMP = 20_000
#: "hot" sample boundary (near-peak detection / clipping proxy)
PCM_HOT_AMP = 28_000


PCM_STATS_SCHEMA = T.StructType(
    [
        T.StructField("asset_id", T.LongType(), False),
        T.StructField("n_samples", T.LongType(), False),
        T.StructField("n_frames", T.LongType(), False),
        T.StructField("total_energy", T.LongType(), False),
        T.StructField("peak", T.LongType(), False),
        T.StructField("silence_frames", T.LongType(), False),
        T.StructField("hot_samples", T.LongType(), False),
    ]
)


def pcm_frame_stats(
    assets: DataFrame,
    *,
    frame_samples: int = 32,
    silence_amp: int = PCM_SILENCE_AMP,
    hot_amp: int = PCM_HOT_AMP,
) -> DataFrame:
    """Frame-level analysis of raw s16le PCM payloads -- the audio leg
    of the multimodal family, and the one decode every audio pipeline
    CAN do without codec libraries (raw PCM is bytes): interpret the
    opaque payload as little-endian signed 16-bit samples, window into
    ``frame_samples``-sample frames (trailing partial frame dropped),
    and aggregate exact-integer energy/peak/silence/hot-sample stats.

    One zero-shuffle Arrow pass (``mapInPandas`` +
    ``numpy.frombuffer('<i2')``): each payload stays one Arrow cell,
    is decoded as a single vectorized view (no copy) and yields one
    result row per asset, with int64 accumulation throughout -- every
    output is an exact integer, so the DuckDB oracle (a per-sample
    hex-explode SQL plan) matches it value for value. RMS comparisons
    are stated as energy < n * amp^2, so no float is involved.

    Output per asset: n_samples, n_frames, total_energy, peak
    (max |sample|), silence_frames (energy below the RMS floor), and
    hot_samples (|sample| >= hot_amp) over full frames. An asset with
    a NULL payload or without one full frame yields no row.
    """
    w = frame_samples
    floor = w * silence_amp * silence_amp

    def stats(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        for pdf in batches:
            out = []
            for asset_id, payload in zip(pdf["asset_id"], pdf["payload"]):
                if payload is None:
                    continue
                buf = bytes(payload)
                s = np.frombuffer(buf, dtype="<i2", count=len(buf) // 2)
                n_full = len(s) // w
                if n_full == 0:
                    continue
                fr = s[: n_full * w].astype(np.int64).reshape(n_full, w)
                energy = (fr * fr).sum(axis=1)
                absfr = np.abs(fr)
                out.append(
                    (
                        asset_id,
                        len(s),
                        n_full,
                        int(energy.sum()),
                        int(absfr.max()),
                        int((energy < floor).sum()),
                        int((absfr >= hot_amp).sum()),
                    )
                )
            yield pd.DataFrame(
                out, columns=[f.name for f in PCM_STATS_SCHEMA.fields]
            )

    return assets.select("asset_id", "payload").mapInPandas(
        stats, PCM_STATS_SCHEMA
    )
