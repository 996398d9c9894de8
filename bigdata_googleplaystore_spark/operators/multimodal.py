"""Multimodal column plumbing: opaque binary payloads + typed metadata.

The engine's contract for image/audio/video data at 100 TB:

- payloads live in a `binary` column next to typed metadata columns
  (media_type, width/height/duration, codec) — never parsed strings;
- all decode / feature-extraction happens in Arrow-batched functions over
  `mapInPandas` so bytes move executor-side in columnar batches, never
  through the driver and never row-at-a-time through the JVM;
- partitioning by a content-hash prefix spreads large payloads evenly
  (payload sizes are skewed; key-salting by digest prefix is free here).

Round 4: the decode step is REAL — pure-stdlib PNG/BMP/WAV codecs
(operators/codecs.py) replace the round-1..3 `_fake_decode` stub. The
container formats are sniffed by magic bytes and parsed per spec (chunk
CRCs, BMP bottom-up padding, RIFF chunk walk, all five PNG scanline
filters), so corrupt payloads raise instead of yielding garbage.
Round 13 retires the last stand-in: video is a REAL AVI-1.0 container
tier (uncompressed DIB frames + optional interleaved PCM16 audio —
attach_video_payload / video_frame_stats / attach_av_payload /
av_demux_stats below), with compressed codecs refusing loudly rather
than decoding approximately.

The fixture generator `attach_media_payload` encodes document text bytes
as real PNG/BMP/WAV files (round-robin by id). That convention is what
makes the decode ORACLE-CHECKED rather than smoke-tested: every decoded
statistic (width/height/pixel sums/PCM windows) is re-derivable by DuckDB
from the source table, so a parser bug hash-fails the driver gate. In
production the payload column arrives already encoded; the encoders are
then the sink half (thumbnails, resampled audio).
"""

from __future__ import annotations

from collections.abc import Iterator

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType,
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from . import codecs
from ._cache import keep_latest

MEDIA_SCHEMA = StructType(
    [
        StructField("media_id", LongType(), False),
        StructField("media_type", StringType(), True),
        StructField("payload", BinaryType(), True),
    ]
)

IMAGE_WIDTH = 16  # fixture convention: gray images are 16 px wide


def attach_binary_payload(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Raw-bytes media table (payload = utf-8 bytes, no container):
    input for the codec-agnostic byte-level ops (payload_stats_arrow)."""
    return df.select(
        F.col(id_col).alias("media_id"),
        F.lit("application/octet-stream").alias("media_type"),
        F.encode(F.col(text_col), "UTF-8").alias("payload"),
    )


def attach_media_payload(
    df: DataFrame, text_col: str, id_col: str, kind: str | None = None
) -> DataFrame:
    """Encode each row's text bytes into a REAL media container —
    id % 3 == 0 -> PNG, 1 -> BMP, 2 -> WAV by default, or all rows as
    ``kind`` ('png'|'bmp'|'wav') — via operators/codecs.py.

    Images: text bytes are gray pixels, 16 px wide, zero-padded last
    row. Audio: sample[i] = (byte[i] - 128) * 128, PCM16 mono 8 kHz.
    Both mappings are deliberately SQL-derivable (ascii() per char on
    the all-ASCII corpus) so decoded statistics can be oracle-checked.
    Encoding runs inside mapInPandas batches executor-side."""
    forced = {"png": 0, "bmp": 1, "wav": 2}[kind] if kind is not None else None

    def batches(it: Iterator) -> Iterator:
        import pandas as pd

        for pdf in it:
            ids, types, payloads = [], [], []
            for mid, text in zip(pdf["media_id"], pdf["text"]):
                data = text.encode("utf-8")
                kind = forced if forced is not None else int(mid) % 3
                if kind == 0:
                    types.append("image/png")
                    payloads.append(codecs.encode_png_gray(data, IMAGE_WIDTH))
                elif kind == 1:
                    types.append("image/bmp")
                    payloads.append(codecs.encode_bmp_gray(data, IMAGE_WIDTH))
                else:
                    types.append("audio/wav")
                    samples = [(b - 128) * 128 for b in data]
                    payloads.append(codecs.encode_wav_pcm16(samples))
                ids.append(mid)
            yield pd.DataFrame(
                {"media_id": ids, "media_type": types, "payload": payloads}
            )

    base = df.select(F.col(id_col).alias("media_id"), F.col(text_col).alias("text"))
    return base.mapInPandas(batches, MEDIA_SCHEMA)


FEATURE_SCHEMA = StructType(
    [
        StructField("media_id", LongType(), False),
        StructField("media_type", StringType(), True),
        StructField("n_bytes", LongType(), True),
        StructField("width", LongType(), True),
        StructField("height", LongType(), True),
        StructField("px_sum", LongType(), True),
        StructField("n_samples", LongType(), True),
        StructField("sample_sum", LongType(), True),
    ]
)


def decode_features(media: DataFrame) -> DataFrame:
    """Arrow-batched REAL decode / feature-extract over mapInPandas.

    Sniffs each payload's container by magic bytes and runs the matching
    parser (codecs.py): images yield (width, height, px_sum = sum of
    gray values incl. padding), audio yields (n_samples, sample_sum),
    video (AVI) yields frame dims with px_sum totalled across frames.
    The non-applicable columns are typed nulls — one stable schema for
    the whole heterogeneous media table. None/unknown payloads raise
    (fail-loud, like the PQ dim gate)."""

    def batches(it: Iterator) -> Iterator:
        import pandas as pd

        for pdf in it:
            out = {k.name: [] for k in FEATURE_SCHEMA.fields}
            for mid, mtype, payload in zip(
                pdf["media_id"], pdf["media_type"], pdf["payload"]
            ):
                b = bytes(payload) if payload is not None else None
                kind = codecs.sniff(b) if b is not None else None
                if kind is None:
                    raise ValueError(
                        f"media_id={mid}: unknown or absent container "
                        "(corrupt payload must fail loudly)"
                    )
                out["media_id"].append(mid)
                out["media_type"].append(mtype)
                out["n_bytes"].append(len(b))
                if kind == "png":
                    w, h, px = codecs.decode_png_gray(b)
                elif kind == "bmp":
                    w, h, px = codecs.decode_bmp_gray(b)
                elif kind == "avi":
                    w, h, _fps, frames = codecs.decode_avi_gray(b)
                    px = b"".join(frames)
                else:
                    rate, samples = codecs.decode_wav_pcm16(b)
                    out["width"].append(None)
                    out["height"].append(None)
                    out["px_sum"].append(None)
                    out["n_samples"].append(int(samples.size))
                    out["sample_sum"].append(int(samples.astype("int64").sum()))
                    continue
                out["width"].append(w)
                out["height"].append(h)
                out["px_sum"].append(sum(px))
                out["n_samples"].append(None)
                out["sample_sum"].append(None)
            yield pd.DataFrame(out)

    return media.mapInPandas(batches, FEATURE_SCHEMA)


RESIZED_SCHEMA = StructType(
    [
        StructField("media_id", LongType(), False),
        StructField("payload", BinaryType(), True),
        StructField("out_w", LongType(), True),
        StructField("out_h", LongType(), True),
    ]
)


def resize_images(media: DataFrame, out_w: int = 8, out_h: int = 8) -> DataFrame:
    """REAL image resize: decode (PNG or BMP) -> nearest-neighbor
    resample on the gray pixel grid (numpy integer indexing, the
    classic deterministic kernel) -> re-encode as PNG. Audio/unknown
    payloads raise. Decode-transform-encode inside one Arrow batch —
    the thumbnail-pipeline shape; payload bytes never leave the
    executor."""

    def batches(it: Iterator) -> Iterator:
        import numpy as np
        import pandas as pd

        for pdf in it:
            ids, payloads = [], []
            for mid, p in zip(pdf["media_id"], pdf["payload"]):
                b = bytes(p)
                kind = codecs.sniff(b)
                if kind == "png":
                    w, h, px = codecs.decode_png_gray(b)
                elif kind == "bmp":
                    w, h, px = codecs.decode_bmp_gray(b)
                else:
                    raise ValueError(f"media_id={mid}: not an image payload")
                img = np.frombuffer(px, dtype=np.uint8).reshape(h, w)
                rows = (np.arange(out_h) * h) // out_h
                cols = (np.arange(out_w) * w) // out_w
                small = img[rows][:, cols]
                ids.append(mid)
                payloads.append(codecs.encode_png_gray(small.tobytes(), out_w))
            yield pd.DataFrame(
                {
                    "media_id": ids,
                    "payload": payloads,
                    "out_w": out_w,
                    "out_h": out_h,
                }
            )

    return media.mapInPandas(batches, RESIZED_SCHEMA)


FRAME_SCHEMA = StructType(
    [
        StructField("media_id", LongType(), False),
        StructField("frame_idx", LongType(), False),
        StructField("row_idx", LongType(), False),
        StructField("n_px", LongType(), True),
        StructField("frame_sum", LongType(), True),
    ]
)


def sample_frames(media: DataFrame, n_frames: int = 4) -> DataFrame:
    """Frame sampling over decoded images: emit up to ``n_frames``
    evenly-spaced scanlines (frame f -> row floor(f * height /
    n_frames)) with their pixel stats — a 1->N fan-out whose output
    count is data-dependent, the shape a video keyframe sampler needs.
    The explode happens INSIDE the Arrow batch, never via a driver
    loop. Scanlines of a really-decoded still stand in for video
    keyframes because no video container is stdlib-parseable — that
    substitution (and only that) is the remaining multimodal stand-in;
    unknown containers raise rather than pretending."""

    def batches(it: Iterator) -> Iterator:
        import pandas as pd

        for pdf in it:
            out = {k.name: [] for k in FRAME_SCHEMA.fields}
            for mid, p in zip(pdf["media_id"], pdf["payload"]):
                b = bytes(p)
                kind = codecs.sniff(b)
                if kind == "png":
                    w, h, px = codecs.decode_png_gray(b)
                elif kind == "bmp":
                    w, h, px = codecs.decode_bmp_gray(b)
                else:
                    raise ValueError(f"media_id={mid}: not an image payload")
                for f in range(min(n_frames, h)):
                    r = (f * h) // n_frames
                    line = px[r * w : (r + 1) * w]
                    out["media_id"].append(mid)
                    out["frame_idx"].append(f)
                    out["row_idx"].append(r)
                    out["n_px"].append(w)
                    out["frame_sum"].append(sum(line))
            yield pd.DataFrame(out)

    return media.mapInPandas(batches, FRAME_SCHEMA)


AHASH_SCHEMA = StructType(
    [
        StructField("media_id", LongType(), False),
        StructField("ahash", LongType(), False),
    ]
)


def image_ahash(media: DataFrame, grid: int = 8) -> DataFrame:
    """Perceptual average-hash (aHash) per image: decode (PNG or BMP) ->
    nearest-neighbor ``grid``x``grid`` thumbnail (same integer indexing
    as resize_images) -> 1 bit per cell (pixel > thumbnail mean) ->
    pack row-major into a signed 64-bit int. The classic cheap
    image-dedup sketch: visually identical images hash equal, small
    edits flip few bits. Deterministic end-to-end (integer resample,
    exact integer mean comparison via px * n > sum), so equal inputs
    always hash equal — the property the dedup gate relies on.

    Scale: decode+hash is map-only inside Arrow batches (payload bytes
    never leave the executor); downstream dedup is a hash group-by on
    the 8-byte sketch, never a byte-level pair comparison."""
    if grid * grid > 64:
        raise ValueError("ahash packs into 64 bits; grid must be <= 8")

    def batches(it: Iterator) -> Iterator:
        import numpy as np
        import pandas as pd

        for pdf in it:
            ids, hashes = [], []
            for mid, p in zip(pdf["media_id"], pdf["payload"]):
                b = bytes(p)
                kind = codecs.sniff(b)
                if kind == "png":
                    w, h, px = codecs.decode_png_gray(b)
                elif kind == "bmp":
                    w, h, px = codecs.decode_bmp_gray(b)
                else:
                    raise ValueError(f"media_id={mid}: not an image payload")
                img = np.frombuffer(px, dtype=np.uint8).reshape(h, w)
                rows = (np.arange(grid) * h) // grid
                cols = (np.arange(grid) * w) // grid
                small = img[rows][:, cols].astype(np.int64)
                # bit = cell > mean, in exact integer form (cell * n > sum)
                n = small.size
                total = int(small.sum())
                bits = (small.reshape(-1) * n) > total
                val = 0
                for bit in bits:
                    val = (val << 1) | int(bit)
                # wrap to signed 64-bit so it fits LongType
                if val >= 1 << 63:
                    val -= 1 << 64
                ids.append(mid)
                hashes.append(val)
            yield pd.DataFrame({"media_id": ids, "ahash": hashes})

    return media.mapInPandas(batches, AHASH_SCHEMA)


def ahash_dup_pairs(media: DataFrame, grid: int = 8) -> DataFrame:
    """Image near-dup pairs at aHash Hamming distance 0: hash every
    image (image_ahash), then group equal hashes via a self-equi-join
    on the 64-bit sketch — the scale shape is a shuffle on an 8-byte
    key, never an image-content comparison. Output columns mirror the
    text dedup tiers: (media_a, media_b, hamming) with media_a <
    media_b, hamming pinned 0 (equal-hash tier; a banded multi-index
    would relax to small nonzero distances, same join shape)."""
    # persist: like video_dup_pairs below, the hash frame feeds both
    # sides of a broadcast self-join whose exchanges differ (build vs
    # probe), so without the cache boundary the whole image-decode
    # pipeline ran TWICE (measured at sf0.1: 4 MapInPandas nodes,
    # 0 ReusedExchange; 0.98 s -> 0.79 s persisted). ~16 bytes/image;
    # keep_latest bounds long-session accumulation to one live frame.
    hashed = keep_latest(
        "multimodal.ahash", image_ahash(media, grid=grid).persist()
    )
    a = hashed.select(
        F.col("media_id").alias("media_a"), F.col("ahash").alias("_h")
    )
    b = hashed.select(
        F.col("media_id").alias("media_b"), F.col("ahash").alias("_h")
    )
    return (
        a.join(b, "_h")
        .filter(F.col("media_a") < F.col("media_b"))
        .select(
            "media_a", "media_b", F.lit(0).cast("int").alias("hamming")
        )
    )


def payload_stats_arrow(media: DataFrame) -> DataFrame:
    """Arrow-native metadata pass (mapInArrow): payload byte lengths and
    empty/null accounting computed directly on Arrow buffers with
    pyarrow.compute — no pandas materialization, no per-row python
    objects. This is the hot-path shape for byte-heavy media tables
    where even the Arrow->pandas bridge is measurable overhead: the
    binary column's buffers are read in place and never copied."""
    import pyarrow as pa
    import pyarrow.compute as pc

    def stats(batches):
        for batch in batches:
            n_bytes = pc.binary_length(batch.column("payload"))
            yield pa.record_batch(
                [
                    batch.column("media_id"),
                    pc.cast(n_bytes, pa.int64()),
                    pc.is_null(batch.column("payload")),
                ],
                names=["media_id", "n_bytes", "payload_missing"],
            )

    return media.mapInArrow(
        stats, "media_id long, n_bytes long, payload_missing boolean"
    )


AUDIO_SCHEMA = StructType(
    [
        StructField("media_id", LongType(), False),
        StructField("window_idx", LongType(), False),
        StructField("n_samples", LongType(), True),
        StructField("rms", DoubleType(), True),
        StructField("peak", LongType(), True),
    ]
)


def audio_window_rms(media: DataFrame, window_samples: int = 256) -> DataFrame:
    """Audio branch of the multimodal suite: REAL WAV parse
    (codecs.decode_wav_pcm16 — RIFF chunk walk, PCM16 mono) then
    per-window RMS energy + peak — the silence-detection /
    loudness-normalization primitive of an audio curation pipeline.

    Arrow batches executor-side, numpy frombuffer + vectorized window
    reduction, typed output schema, ceil(samples/window) rows per clip.
    The sum of squares is accumulated in exact int64 and divided once,
    so rms is a deterministic function of the samples (oracle-safe).
    Non-WAV payloads raise."""

    def batches(it: Iterator) -> Iterator:
        import numpy as np
        import pandas as pd

        for pdf in it:
            out = {
                "media_id": [],
                "window_idx": [],
                "n_samples": [],
                "rms": [],
                "peak": [],
            }
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                if payload is None:
                    continue
                _rate, x = codecs.decode_wav_pcm16(bytes(payload))
                x = x.astype(np.int64)
                for wi in range(0, x.size, window_samples):
                    w = x[wi : wi + window_samples]
                    out["media_id"].append(mid)
                    out["window_idx"].append(wi // window_samples)
                    out["n_samples"].append(int(w.size))
                    sq = int((w * w).sum())  # exact: |s| <= 2^15, 256 terms
                    out["rms"].append(float((sq / w.size) ** 0.5))
                    out["peak"].append(int(np.abs(w).max()))
            yield pd.DataFrame(out)

    return media.mapInPandas(batches, AUDIO_SCHEMA)


# ----------------------------------------------------------------------
# Video (AVI container — real frames)
# ----------------------------------------------------------------------

VIDEO_FRAME_W = 16  # fixture convention: video frames are 16x4 gray px
VIDEO_FRAME_H = 4
VIDEO_MAX_FRAMES = 6


def _text_tiles(data: bytes, per: int, max_frames: int) -> list[bytes]:
    """The ONE copy of the fixture tiling convention both video oracles
    depend on: consecutive ``per``-byte tiles of the text, capped at
    ``max_frames``, at least one (possibly empty -> zero-padded)
    frame. Changing this changes the SQL oracles of every video gate —
    keep them in lockstep."""
    nf = min(max_frames, max(1, -(-len(data) // per)))
    return [data[f * per : (f + 1) * per] for f in range(nf)]


def attach_video_payload(
    df: DataFrame,
    text_col: str,
    id_col: str,
    frame_w: int = VIDEO_FRAME_W,
    frame_h: int = VIDEO_FRAME_H,
    max_frames: int = VIDEO_MAX_FRAMES,
    fps: int = 10,
) -> DataFrame:
    """Encode each row's text bytes into a REAL AVI container
    (codecs.encode_avi_gray): consecutive ``frame_w*frame_h``-byte
    tiles of the text become uncompressed DIB video frames, capped at
    ``max_frames`` (the short-clip convention; the last tile is
    zero-padded). Like attach_media_payload, the byte->pixel mapping
    is deliberately SQL-derivable (ascii() sums over tile ranges on
    the all-ASCII corpus) so decoded per-frame statistics can be
    oracle-checked end-to-end. Encoding runs inside mapInPandas
    batches executor-side."""
    per = frame_w * frame_h

    def batches(it: Iterator) -> Iterator:
        import pandas as pd

        for pdf in it:
            ids, types, payloads = [], [], []
            for mid, text in zip(pdf["media_id"], pdf["text"]):
                data = text.encode("utf-8")
                frames = _text_tiles(data, per, max_frames)
                payloads.append(
                    codecs.encode_avi_gray(frames, frame_w, frame_h, fps=fps)
                )
                types.append("video/avi")
                ids.append(mid)
            yield pd.DataFrame(
                {"media_id": ids, "media_type": types, "payload": payloads}
            )

    base = df.select(F.col(id_col).alias("media_id"), F.col(text_col).alias("text"))
    return base.mapInPandas(batches, MEDIA_SCHEMA)


VIDEO_FRAME_SCHEMA = StructType(
    [
        StructField("media_id", LongType(), False),
        StructField("fps", LongType(), True),
        StructField("n_frames", LongType(), True),
        StructField("frame_idx", LongType(), False),
        StructField("n_px", LongType(), True),
        StructField("frame_sum", LongType(), True),
    ]
)


def video_frame_stats(media: DataFrame, stride: int = 1) -> DataFrame:
    """REAL video frame extraction: parse each payload's AVI container
    (codecs.decode_avi_gray — RIFF tree walk, strh/strf validation,
    bottom-up DIB -> top-down gray conversion) and emit one row per
    extracted frame with its pixel stats; ``stride`` > 1 keeps every
    stride-th frame (the keyframe-sampling shape — with this fixture's
    all-keyframe idx1, temporal subsampling IS keyframe selection).

    1-to-N Arrow-batch fan-out like sample_frames, but over genuinely
    container-packed frames: fps and n_frames come out of the AVI
    headers, so a header-parse bug is as loud as a pixel bug under the
    SQL oracle. Non-AVI or compressed payloads raise."""
    if stride < 1:
        raise ValueError("stride must be >= 1")

    def batches(it: Iterator) -> Iterator:
        import pandas as pd

        for pdf in it:
            out: dict[str, list] = {f.name: [] for f in VIDEO_FRAME_SCHEMA.fields}
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                if payload is None:
                    continue
                w, h, fps, frames = codecs.decode_avi_gray(bytes(payload))
                for idx in range(0, len(frames), stride):
                    out["media_id"].append(mid)
                    out["fps"].append(fps)
                    out["n_frames"].append(len(frames))
                    out["frame_idx"].append(idx)
                    out["n_px"].append(w * h)
                    out["frame_sum"].append(sum(frames[idx]))
            yield pd.DataFrame(out)

    return media.mapInPandas(batches, VIDEO_FRAME_SCHEMA)


def attach_av_payload(
    df: DataFrame,
    text_col: str,
    id_col: str,
    frame_w: int = VIDEO_FRAME_W,
    frame_h: int = VIDEO_FRAME_H,
    max_frames: int = VIDEO_MAX_FRAMES,
    sample_rate: int = 8000,
    fps: int = 10,
) -> DataFrame:
    """Encode each row's text into a REAL interleaved A/V AVI container
    (codecs.encode_avi_av): the video stream tiles the text bytes like
    attach_video_payload; the audio stream carries EVERY text byte as a
    PCM16 sample via the WAV fixture mapping sample = (byte-128)*128.
    Both mappings stay SQL-derivable so the demux is oracle-checkable:
    frame sums over tile ranges, sample sums over the whole text."""
    per = frame_w * frame_h

    def batches(it: Iterator) -> Iterator:
        import pandas as pd

        for pdf in it:
            ids, types, payloads = [], [], []
            for mid, text in zip(pdf["media_id"], pdf["text"]):
                data = text.encode("utf-8")
                frames = _text_tiles(data, per, max_frames)
                samples = [(b - 128) * 128 for b in data]
                payloads.append(
                    codecs.encode_avi_av(
                        frames, frame_w, frame_h, samples,
                        sample_rate=sample_rate, fps=fps,
                    )
                )
                types.append("video/avi")
                ids.append(mid)
            yield pd.DataFrame(
                {"media_id": ids, "media_type": types, "payload": payloads}
            )

    base = df.select(F.col(id_col).alias("media_id"), F.col(text_col).alias("text"))
    return base.mapInPandas(batches, MEDIA_SCHEMA)


AV_DEMUX_SCHEMA = StructType(
    [
        StructField("media_id", LongType(), False),
        StructField("fps", LongType(), True),
        StructField("n_frames", LongType(), True),
        StructField("px_sum", LongType(), True),
        StructField("sample_rate", LongType(), True),
        StructField("n_samples", LongType(), True),
        StructField("sample_sum", LongType(), True),
    ]
)


def av_demux_stats(media: DataFrame) -> DataFrame:
    """REAL A/V demux: parse each payload's interleaved AVI
    (codecs.decode_avi_av — one RIFF walk feeding both stream views),
    emitting per-clip stats for BOTH modalities: frame count + total
    pixel sum from the video stream, sample count + exact int64 sample
    sum from the PCM audio stream, with fps and sample_rate taken from
    the container headers. One output row per clip — the
    feature-extraction shape an A/V curation pipeline runs before
    filtering (silent clips, black frames) at 100 TB."""

    def batches(it: Iterator) -> Iterator:
        import pandas as pd

        for pdf in it:
            out: dict[str, list] = {f.name: [] for f in AV_DEMUX_SCHEMA.fields}
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                if payload is None:
                    continue
                w, h, fps, frames, sr, samples = codecs.decode_avi_av(
                    bytes(payload)
                )
                out["media_id"].append(mid)
                out["fps"].append(fps)
                out["n_frames"].append(len(frames))
                out["px_sum"].append(sum(sum(fr) for fr in frames))
                out["sample_rate"].append(sr)
                out["n_samples"].append(int(samples.size))
                out["sample_sum"].append(int(samples.astype("int64").sum()))
            yield pd.DataFrame(out)

    return media.mapInPandas(batches, AV_DEMUX_SCHEMA)


VIDEO_SIG_SCHEMA = StructType(
    [
        StructField("media_id", LongType(), False),
        StructField("sig", StringType(), True),
        StructField("n_frames", LongType(), True),
    ]
)


def video_signatures(media: DataFrame) -> DataFrame:
    """Exact-tier video signature: REAL AVI decode, then md5 over the
    concatenated DECODED frame bytes (dimensions + frame count mixed
    in, so equal pixel streams at different geometry never collide).
    Because the decode zero-pads the last tile, two clips sign equal
    iff their frame count and every decoded pixel match — the cap and
    padding semantics are part of the signature, which is exactly what
    the planted cap-boundary oracle pairs pin."""

    def batches(it: Iterator) -> Iterator:
        import hashlib

        import pandas as pd

        for pdf in it:
            out: dict[str, list] = {f.name: [] for f in VIDEO_SIG_SCHEMA.fields}
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                if payload is None:
                    continue
                w, h, _fps, frames = codecs.decode_avi_gray(bytes(payload))
                d = hashlib.md5(f"{w}x{h}x{len(frames)}|".encode())
                for fr in frames:
                    d.update(fr)
                out["media_id"].append(mid)
                out["sig"].append(d.hexdigest())
                out["n_frames"].append(len(frames))
            yield pd.DataFrame(out)

    return media.mapInPandas(batches, VIDEO_SIG_SCHEMA)


def video_dup_pairs(media: DataFrame) -> DataFrame:
    """Video dedup at the 100 TB posture: decode once into a 16-byte
    signature per clip, then a hash self-join on the signature — clips
    compare by digest, NEVER by frame bytes (the image_ahash
    group-join shape; the join side carries ~32 bytes/clip regardless
    of clip size). Emits (video_a, video_b) with video_a < video_b."""
    # persist: the signature frame feeds BOTH sides of the self-join,
    # and the two sides plan DIFFERENT exchanges (broadcast build vs
    # probe scan), so exchange reuse can never dedup them — without the
    # cache boundary the whole decode pipeline ran TWICE (measured at
    # sf0.1: 4 MapInPandas nodes, 0 ReusedExchange; 1.12 s -> 0.90 s
    # persisted, both sides InMemoryTableScan). The frame is ~32
    # bytes/clip; keep_latest bounds long-session accumulation to one
    # live frame (bench.py/sim additionally clear cache per query — the
    # dedup_exact_substring precedent).
    sigs = keep_latest(
        "multimodal.videosig",
        video_signatures(media).select("media_id", "sig").persist(),
    )
    a = sigs.alias("a")
    b = sigs.alias("b")
    return (
        a.join(b, on="sig")
        .filter(F.col("a.media_id") < F.col("b.media_id"))
        .select(
            F.col("a.media_id").alias("video_a"),
            F.col("b.media_id").alias("video_b"),
        )
    )
