"""Multimodal (image/audio/video) column plumbing.

Media travel as opaque ``binary`` columns beside typed metadata; all
per-item work (decode, resize, feature-extract, frame-sample) runs as
Arrow-batched pandas iterators over ``mapInPandas`` — the only layer
of this engine where Python touches row data, and it does so in
columnar batches, never row-at-a-time.

Codec status: uncompressed formats go through REAL pure-Python codecs
— images (PPM P6, 24-bit BMP: operators/imagecodec.py) get genuine
decode / nearest-neighbor resize / re-encode, and audio (RIFF/WAVE
PCM: operators/audiocodec.py) gets a genuine chunk walk + frame
reshape; resize, frame-decode, clip analysis AND feature extraction
all run on the real decode, byte-exact and oracle-checked.
Compressed formats would need PIL/ffmpeg, which this container ships
without, so those inputs take a deterministic fallback; the
Spark-side contract (schemas, Arrow batch iteration, partitioning,
output shapes) is identical on both paths — swap the fallback for the
real library call and nothing else changes.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("kind", T.StringType()),  # image | audio | video
        T.StructField("content", T.BinaryType()),
        T.StructField("mime", T.StringType()),
        T.StructField("meta", T.MapType(T.StringType(), T.StringType())),
    ]
)

FEATURE_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("kind", T.StringType()),
        T.StructField("byte_len", T.LongType()),
        T.StructField("checksum", T.LongType()),
        T.StructField("feature", T.ArrayType(T.FloatType())),
    ]
)


#: modulus keeping integer-derived feature entries exactly
#: representable in float32 (< 2^24)
_FEAT_MOD = 1_000_003

#: geometry of :func:`documents_as_ppm_media`'s images; the P6 oracles
#: in plans/oracles_training.py spell the same header ("12 8")
PPM_WIDTH, PPM_HEIGHT = 12, 8

#: sample rate of :func:`documents_as_wav_media`'s clips; the audio
#: oracles derive ``duration_us`` from the same 16000
WAV_SAMPLE_RATE = 16_000


def _fake_decode(content: bytes) -> list[float]:
    """Deterministic fallback feature vector for UNRECOGNIZED formats
    (compressed codecs would need PIL/ffmpeg, which this container
    ships without): a stable 4-dim summary of the bytes themselves, so
    opaque inputs still flow through the same Arrow contract."""
    n = len(content)
    s = sum(content[:256])
    return [float(n), float(n % 256), float(s % 997), float(content[0] if n else 0)]


def _decode_feature(content: bytes) -> list[float]:
    """REAL decode for the formats the in-repo codecs understand.

    - P6 PPM / 24-bit BMP (operators/imagecodec.py): genuine header
      parse + pixel reshape; feature = [width, height,
      px_sum mod 1_000_003, first pixel byte].
    - RIFF/WAVE PCM (operators/audiocodec.py): genuine chunk walk +
      frame reshape; feature = [n_frames, peak |sample|,
      energy mod 1_000_003, sample_rate].
    - anything else: the deterministic ``_fake_decode`` fallback.

    Every entry is an integer < 2^24 cast to float, so the vector is
    exactly representable in float32 and SQL-oracle-checkable.
    """
    from fsc_etl_spark.operators import audiocodec, imagecodec

    fmt = imagecodec.sniff(bytes(content))
    if fmt == "ppm" or fmt == "bmp":
        img = (
            imagecodec.decode_ppm(bytes(content))
            if fmt == "ppm"
            else imagecodec.decode_bmp(bytes(content))
        )
        h, w = img.shape[:2]
        first = int(img.reshape(-1)[0]) if img.size else 0
        return [
            float(w),
            float(h),
            float(int(img.sum(dtype="int64")) % _FEAT_MOD),
            float(first),
        ]
    if content[:4] == b"RIFF" and content[8:12] == b"WAVE":
        samples, rate = audiocodec.decode_wav(bytes(content))
        stats = audiocodec.analyze(samples, rate)
        return [
            float(stats["n_frames"]),
            float(stats["peak"]),
            float(stats["energy"] % _FEAT_MOD),
            float(rate),
        ]
    return _fake_decode(content)


def extract_features(media: DataFrame) -> DataFrame:
    """Decode/feature-extract each media item via mapInPandas.

    Recognized formats (P6 PPM, 24-bit BMP, RIFF/WAVE PCM) go through
    the REAL in-repo codecs — see :func:`_decode_feature`; only
    unrecognized bytes take the deterministic fallback.

    Arrow streams ``content`` in columnar batches; each batch is
    processed vectorized-per-column in one Python call. At scale the
    input should be repartitioned so batches hold ~10-100 MB of media
    bytes (``spark.sql.execution.arrow.maxRecordsPerBatch`` bounds
    rows per batch).
    """

    def process(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            content = pdf["content"]
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "kind": pdf["kind"],
                    "byte_len": content.map(len).astype("int64"),
                    "checksum": content.map(lambda b: sum(b) % 2**31).astype("int64"),
                    "feature": content.map(_decode_feature),
                }
            )

    return media.mapInPandas(process, schema=FEATURE_SCHEMA)


RESIZED_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("kind", T.StringType()),
        T.StructField("content", T.BinaryType()),
        T.StructField("mime", T.StringType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
    ]
)

FRAME_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("frame_idx", T.IntegerType()),
        T.StructField("frame", T.BinaryType()),
        T.StructField("offset_bytes", T.LongType()),
    ]
)


def resize_images(media: DataFrame, width: int, height: int) -> DataFrame:
    """Resize every image to (width, height) — binary in, binary out.

    REAL codec for uncompressed formats: PPM (P6) and 24-bit BMP are
    magic-sniffed and go through a genuine decode → nearest-neighbor
    resize → re-encode (operators/imagecodec.py — header-over-raw-RGB
    formats need no PIL). Anything unrecognized keeps the documented
    deterministic fallback (truncate/cycle to width*height) so opaque
    test bytes still flow through the same Arrow batch contract.
    """
    from fsc_etl_spark.operators.imagecodec import resize_bytes

    def process(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        target = max(1, width * height)

        def fake_resize(b: bytes) -> bytes:
            if not b:
                return bytes(target)
            reps = -(-target // len(b))
            return (b * reps)[:target]

        def one(b: bytes, mime: str) -> tuple[bytes, str]:
            real = resize_bytes(b, width, height)
            if real is not None:
                return real
            return fake_resize(b), mime

        for pdf in batches:
            pairs = [one(b, m) for b, m in zip(pdf["content"], pdf["mime"])]
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "kind": pdf["kind"],
                    "content": [p[0] for p in pairs],
                    "mime": [p[1] for p in pairs],
                    "width": width,
                    "height": height,
                }
            )

    return media.mapInPandas(process, schema=RESIZED_SCHEMA)


def sample_frames(media: DataFrame, n_frames: int) -> DataFrame:
    """Sample ``n_frames`` evenly spaced frames per video — the
    row-exploding shape (one media row → n frame rows) every video
    pipeline needs.

    STUB decode (no ffmpeg): a "frame" is the fixed-size byte slice at
    the frame's offset, standing in for a real frame grab at an evenly
    spaced timestamp; offsets are computed exactly as a real sampler
    would place seek points.
    """

    def process(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out: dict[str, list] = {"media_id": [], "frame_idx": [], "frame": [], "offset_bytes": []}
            for mid, content in zip(pdf["media_id"], pdf["content"]):
                size = len(content)
                chunk = max(1, size // max(1, n_frames))
                for i in range(n_frames):
                    off = min(i * chunk, max(0, size - 1))
                    out["media_id"].append(mid)
                    out["frame_idx"].append(i)
                    out["frame"].append(bytes(content[off : off + chunk]))
                    out["offset_bytes"].append(off)
            yield pd.DataFrame(out)

    return media.mapInPandas(process, schema=FRAME_SCHEMA)


def documents_as_ppm_media(docs: DataFrame) -> DataFrame:
    """Adapter: deterministic REAL ``PPM_WIDTH`` x ``PPM_HEIGHT`` P6
    images from document text — the pixel buffer is the text's bytes
    cycled to width*height*3, under a
    canonical P6 header. Everything is built with JVM string
    expressions (repeat/substring/concat), so an ANSI-SQL oracle can
    reproduce the exact bytes; the images then exercise the genuine
    codec path in :func:`resize_images` (magic-sniffed as 'ppm')."""
    need = PPM_WIDTH * PPM_HEIGHT * 3
    reps = F.ceil(F.lit(float(need)) / F.greatest(F.length("text"), F.lit(1))).cast("int")
    pixbuf = F.substring(F.repeat(F.col("text"), reps), 1, need)
    header = F.lit(f"P6\n{PPM_WIDTH} {PPM_HEIGHT}\n255\n")
    # empty documents carry no pixel bytes to cycle — skip them (a
    # header-only P6 would be invalid; oracles filter the same way)
    docs = docs.filter(F.length("text") > 0)
    return docs.select(
        F.col("doc_id").alias("media_id"),
        F.lit("image").alias("kind"),
        F.encode(F.concat(header, pixbuf), "UTF-8").alias("content"),
        F.lit("image/x-portable-pixmap").alias("mime"),
        F.create_map(F.lit("source"), F.col("source")).alias("meta"),
    )


def documents_as_ppm_video(
    docs: DataFrame, width: int = 8, height: int = 4, n_frames: int = 4
) -> DataFrame:
    """Adapter: a raw 'video' per document — ``n_frames`` concatenated
    equal-size P6 frames (frame f's pixel buffer starts one byte later
    in the cycled text, so frames differ). Equal fixed-size frames make
    :func:`sample_frames`'s evenly-spaced byte slicing land exactly on
    frame boundaries — for an uncompressed container, the byte slice
    IS the real frame grab."""
    need = width * height * 3
    header = F.lit(f"P6\n{width} {height}\n255\n")
    reps = F.ceil(
        F.lit(float(need + n_frames)) / F.greatest(F.length("text"), F.lit(1))
    ).cast("int")
    docs = docs.filter(F.length("text") > 0)  # see documents_as_ppm_media
    cycled = F.repeat(F.col("text"), reps)
    frames = [
        F.concat(header, F.substring(cycled, f + 1, need)) for f in range(n_frames)
    ]
    return docs.select(
        F.col("doc_id").alias("media_id"),
        F.lit("video").alias("kind"),
        F.encode(F.concat(*frames), "UTF-8").alias("content"),
        F.lit("video/x-raw-ppm").alias("mime"),
        F.create_map(F.lit("source"), F.col("source")).alias("meta"),
    )


DECODED_FRAME_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("frame_idx", T.IntegerType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("px_sum", T.LongType()),
    ]
)


def decode_frames(frames: DataFrame) -> DataFrame:
    """REAL decode of per-frame P6 binaries (operators/imagecodec.py)
    through an Arrow mapInPandas batch: parse header, reshape the raw
    RGB buffer, report dimensions and the exact pixel-byte sum — the
    decode-verification step a real media pipeline runs after a frame
    grab."""
    from fsc_etl_spark.operators.imagecodec import decode_ppm

    def process(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            imgs = [decode_ppm(bytes(b)) for b in pdf["frame"]]
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "frame_idx": pdf["frame_idx"],
                    "width": [im.shape[1] for im in imgs],
                    "height": [im.shape[0] for im in imgs],
                    "px_sum": [int(im.sum(dtype="int64")) for im in imgs],
                }
            )

    return frames.mapInPandas(process, schema=DECODED_FRAME_SCHEMA)


AUDIO_STATS_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("n_frames", T.LongType()),
        T.StructField("peak", T.LongType()),
        T.StructField("energy", T.LongType()),
        T.StructField("duration_us", T.LongType()),
    ]
)


def documents_as_wav_media(docs: DataFrame) -> DataFrame:
    """Adapter: REAL ``WAV_SAMPLE_RATE`` PCM WAV clips from document
    text — sample i is ``(byte_i - 128) * 256`` (8-bit unsigned
    centered and widened to int16, the standard WAV convention), encoded through the genuine
    RIFF writer (operators/audiocodec.py) in an Arrow batch. The
    sample derivation is byte-arithmetic on the text, so a SQL oracle
    can reproduce any downstream integer-exact analysis."""
    from fsc_etl_spark.operators.audiocodec import encode_wav

    def build(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        for pdf in batches:
            out = []
            for text in pdf["text"]:
                raw = np.frombuffer(text.encode("utf-8"), dtype="u1")
                samples = ((raw.astype("i2") - 128) << 8).astype("<i2")
                out.append(encode_wav(samples, WAV_SAMPLE_RATE))
            yield pd.DataFrame(
                {
                    "media_id": pdf["doc_id"],
                    "kind": "audio",
                    "content": out,
                    "mime": "audio/wav",
                    "meta": [{} for _ in out],
                }
            )

    # empty documents produce zero-sample clips whose per-clip stats
    # rows would have no oracle twin (the byte-derived GROUP BY emits
    # nothing) — skip them, matching the oracles' implicit filter
    return (
        docs.filter(F.length("text") > 0)
        .select("doc_id", "text")
        .mapInPandas(build, schema=MEDIA_SCHEMA)
    )


def analyze_audio(media: DataFrame, downsample_factor: int = 1) -> DataFrame:
    """REAL WAV decode + integer-exact clip analysis through one Arrow
    batch: RIFF chunk walk, PCM frame reshape, optional deterministic
    decimation, then (frames, peak |sample|, energy = Σ sample², exact
    µs duration). All stats are integers, so results are partitioning-
    invariant and SQL-oracle-checkable — any header mis-parse or frame
    misalignment changes them."""
    from fsc_etl_spark.operators.audiocodec import analyze, decode_wav, downsample

    def process(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = {k: [] for k in ("media_id", "n_frames", "peak", "energy", "duration_us")}
            for mid, content in zip(pdf["media_id"], pdf["content"]):
                samples, rate = decode_wav(bytes(content))
                if downsample_factor > 1:
                    # decimation divides the effective sample rate, so
                    # physical duration is preserved (± one frame)
                    samples = downsample(samples, downsample_factor)
                    rate = max(1, rate // downsample_factor)
                stats = analyze(samples, rate)
                rows["media_id"].append(mid)
                for k, v in stats.items():
                    rows[k].append(v)
            yield pd.DataFrame(rows)

    return media.mapInPandas(process, schema=AUDIO_STATS_SCHEMA)


def documents_as_media(docs: DataFrame) -> DataFrame:
    """Adapter: treat document text bytes as media content so the
    multimodal path has real data to chew on in this environment."""
    return docs.select(
        F.col("doc_id").alias("media_id"),
        F.lit("image").alias("kind"),
        F.encode(F.col("text"), "UTF-8").alias("content"),
        F.lit("application/octet-stream").alias("mime"),
        F.create_map(F.lit("source"), F.col("source")).alias("meta"),
    )
