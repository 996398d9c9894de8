"""Pure-stdlib media codecs: PNG (8-bit grayscale), BMP (24-bit), WAV
(PCM16 mono), AVI (uncompressed 24-bit DIB video).

The multimodal operators decode real media without PIL or ffmpeg: these
codecs are spec-conformant parsers/writers over ``zlib`` + ``struct``,
so decoding adds no dependency:

- PNG: writes 8-bit grayscale with per-row filter bytes and CRC'd chunks;
  the decoder validates the signature, every chunk CRC, and un-filters all
  five PNG filter types (None/Sub/Up/Average/Paeth, RFC 2083 §6), so it
  reads third-party grayscale PNGs, not just its own output.
- BMP: 24-bit uncompressed BITMAPINFOHEADER; bottom-up row order and
  4-byte row padding handled on both sides.
- WAV: canonical RIFF/WAVE with a 16-byte fmt chunk, PCM16 mono; the
  reader walks the chunk list (tolerating extra chunks such as LIST)
  rather than assuming a fixed 44-byte header.
- AVI: AVI-1.0 RIFF container, one 'vids' stream of uncompressed
  BI_RGB 24-bit DIB frames ('00db' chunks in the 'movi' list, BMP's
  bottom-up padded row layout) with a spec-complete keyframed 'idx1';
  the parser walks the RIFF tree (tolerating JUNK/INFO and the '00dc'
  tag real muxers use) and REFUSES compressed codecs (MJPG etc.), so
  frame extraction parses a real video container.

These run inside Arrow-batched ``mapInPandas`` workers
(operators/multimodal.py): per-payload Python is the irreducible cost of
real container parsing — the Spark contract (columnar batches
executor-side, typed output schema, no driver involvement) is what makes
it scale, and payload bytes never exist row-at-a-time on the JVM side.

The synthetic fixture convention used by the catalog queries (documents
text bytes as gray pixels / PCM samples) is chosen so DuckDB can re-derive
every decoded statistic from the source table — the decode step itself is
thereby oracle-checked, not just smoke-tested.
"""

from __future__ import annotations

import struct
import zlib

PNG_SIG = b"\x89PNG\r\n\x1a\n"


def sniff(payload: bytes) -> str | None:
    """Magic-byte container detection: 'png' | 'bmp' | 'wav' | None."""
    if payload is None:
        return None
    if payload[:8] == PNG_SIG:
        return "png"
    if payload[:2] == b"BM":
        return "bmp"
    if payload[:4] == b"RIFF" and payload[8:12] == b"WAVE":
        return "wav"
    if payload[:4] == b"RIFF" and payload[8:12] == b"AVI ":
        return "avi"
    return None


# ----------------------------------------------------------------------
# PNG (grayscale, 8-bit)
# ----------------------------------------------------------------------


def _chunk(tag: bytes, body: bytes) -> bytes:
    return (
        struct.pack(">I", len(body))
        + tag
        + body
        + struct.pack(">I", zlib.crc32(tag + body) & 0xFFFFFFFF)
    )


def encode_png_gray(pixels: bytes, width: int) -> bytes:
    """8-bit grayscale PNG of ``pixels`` (row-major, top-down) at
    ``width`` columns; the last row is zero-padded. Rows are written with
    filter type 0 (the encoder's choice; the decoder accepts 0-4)."""
    if width <= 0:
        raise ValueError("width must be positive")
    height = max(1, -(-len(pixels) // width))
    padded = pixels.ljust(width * height, b"\x00")
    raw = b"".join(
        b"\x00" + padded[r * width : (r + 1) * width] for r in range(height)
    )
    ihdr = struct.pack(">IIBBBBB", width, height, 8, 0, 0, 0, 0)
    return (
        PNG_SIG
        + _chunk(b"IHDR", ihdr)
        + _chunk(b"IDAT", zlib.compress(raw, 6))
        + _chunk(b"IEND", b"")
    )


def _paeth(a: int, b: int, c: int) -> int:
    p = a + b - c
    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
    if pa <= pb and pa <= pc:
        return a
    return b if pb <= pc else c


def decode_png_gray(payload: bytes) -> tuple[int, int, bytes]:
    """Parse an 8-bit grayscale PNG -> (width, height, pixels top-down).

    Validates the signature and every chunk CRC; un-filters all five
    scanline filter types, so inputs from other encoders decode too.
    Raises ValueError on anything malformed — corrupt payloads must fail
    loudly, never yield garbage pixels."""
    if payload[:8] != PNG_SIG:
        raise ValueError("not a PNG: bad signature")
    pos, width, height, idat = 8, None, None, b""
    while pos < len(payload):
        if pos + 8 > len(payload):
            raise ValueError("truncated PNG chunk header")
        (length,) = struct.unpack(">I", payload[pos : pos + 4])
        tag = payload[pos + 4 : pos + 8]
        body = payload[pos + 8 : pos + 8 + length]
        if len(body) != length:
            raise ValueError("truncated PNG chunk body")
        (crc,) = struct.unpack(">I", payload[pos + 8 + length : pos + 12 + length])
        if zlib.crc32(tag + body) & 0xFFFFFFFF != crc:
            raise ValueError(f"PNG chunk {tag!r} CRC mismatch")
        if tag == b"IHDR":
            width, height, depth, color = struct.unpack(">IIBB", body[:10])
            if depth != 8 or color != 0:
                raise ValueError(
                    f"unsupported PNG: depth={depth} color_type={color} "
                    "(8-bit grayscale only)"
                )
        elif tag == b"IDAT":
            idat += body
        elif tag == b"IEND":
            break
        pos += 12 + length
    if width is None or not idat:
        raise ValueError("PNG missing IHDR or IDAT")
    raw = zlib.decompress(idat)
    if len(raw) != (width + 1) * height:
        raise ValueError("PNG pixel data length mismatch")
    out = bytearray()
    prev = bytes(width)
    for r in range(height):
        ftype = raw[r * (width + 1)]
        line = bytearray(raw[r * (width + 1) + 1 : (r + 1) * (width + 1)])
        if ftype == 1:  # Sub
            for i in range(1, width):
                line[i] = (line[i] + line[i - 1]) & 0xFF
        elif ftype == 2:  # Up
            for i in range(width):
                line[i] = (line[i] + prev[i]) & 0xFF
        elif ftype == 3:  # Average
            for i in range(width):
                left = line[i - 1] if i else 0
                line[i] = (line[i] + (left + prev[i]) // 2) & 0xFF
        elif ftype == 4:  # Paeth
            for i in range(width):
                left = line[i - 1] if i else 0
                ul = prev[i - 1] if i else 0
                line[i] = (line[i] + _paeth(left, prev[i], ul)) & 0xFF
        elif ftype != 0:
            raise ValueError(f"unknown PNG filter type {ftype}")
        prev = bytes(line)
        out += line
    return width, height, bytes(out)


# ----------------------------------------------------------------------
# BMP (24-bit uncompressed)
# ----------------------------------------------------------------------


def encode_bmp_gray(pixels: bytes, width: int) -> bytes:
    """24-bit BMP of grayscale ``pixels`` (each byte becomes B=G=R),
    row-major top-down input; BMP's on-disk order is bottom-up with rows
    padded to 4-byte boundaries, as per BITMAPINFOHEADER."""
    if width <= 0:
        raise ValueError("width must be positive")
    height = max(1, -(-len(pixels) // width))
    body = _dib_pack_gray(pixels.ljust(width * height, b"\x00"), width, height)
    info = struct.pack("<IiiHHIIiiII", 40, width, height, 1, 24, 0, len(body), 2835, 2835, 0, 0)
    header = struct.pack("<2sIHHI", b"BM", 14 + 40 + len(body), 0, 0, 14 + 40)
    return header + info + body


def decode_bmp_gray(payload: bytes) -> tuple[int, int, bytes]:
    """Parse a 24-bit uncompressed BMP -> (width, height, gray pixels
    top-down), taking the blue channel as the gray value. Handles
    bottom-up (positive height) and top-down (negative height) files and
    the 4-byte row padding. Raises ValueError on malformed input."""
    if payload[:2] != b"BM":
        raise ValueError("not a BMP: bad magic")
    if len(payload) < 54:
        raise ValueError("truncated BMP header")
    (offset,) = struct.unpack("<I", payload[10:14])
    hdr_size, width, height = struct.unpack("<Iii", payload[14:26])
    planes, bpp = struct.unpack("<HH", payload[26:30])
    (compression,) = struct.unpack("<I", payload[30:34])
    if hdr_size < 40 or planes != 1 or bpp != 24 or compression != 0:
        raise ValueError(
            f"unsupported BMP: hdr={hdr_size} planes={planes} bpp={bpp} "
            f"compression={compression} (24-bit uncompressed only)"
        )
    topdown = height < 0
    height = abs(height)
    try:
        out = _dib_unpack_gray(payload[offset:], width, height, topdown)
    except ValueError:
        raise ValueError("truncated BMP pixel data") from None
    return width, height, out


# ----------------------------------------------------------------------
# WAV (PCM16 mono)
# ----------------------------------------------------------------------


def encode_wav_pcm16(samples, sample_rate: int = 8000) -> bytes:
    """Canonical RIFF/WAVE PCM16 mono file from an iterable of int
    samples (each in [-32768, 32767])."""
    import numpy as np

    pcm = np.asarray(samples, dtype="<i2").tobytes()
    fmt = struct.pack("<HHIIHH", 1, 1, sample_rate, sample_rate * 2, 2, 16)
    body = (
        b"WAVE"
        + b"fmt " + struct.pack("<I", len(fmt)) + fmt
        + b"data" + struct.pack("<I", len(pcm)) + pcm
    )
    return b"RIFF" + struct.pack("<I", len(body)) + body


def decode_wav_pcm16(payload: bytes):
    """Parse a RIFF/WAVE PCM16 mono file -> (sample_rate, numpy int16
    samples). Walks the chunk list (skipping LIST/fact/etc.), so files
    from other writers parse too. Raises ValueError on malformed input
    or unsupported encodings."""
    import numpy as np

    if payload[:4] != b"RIFF" or payload[8:12] != b"WAVE":
        raise ValueError("not a WAV: bad RIFF/WAVE magic")
    pos, rate, channels, bits, data = 12, None, None, None, None
    while pos + 8 <= len(payload):
        tag = payload[pos : pos + 4]
        (length,) = struct.unpack("<I", payload[pos + 4 : pos + 8])
        body = payload[pos + 8 : pos + 8 + length]
        if tag == b"fmt ":
            if length < 16:
                raise ValueError("truncated WAV fmt chunk")
            audio_fmt, channels, rate = struct.unpack("<HHI", body[:8])
            (bits,) = struct.unpack("<H", body[14:16])
            if audio_fmt != 1:
                raise ValueError(f"unsupported WAV encoding {audio_fmt} (PCM only)")
        elif tag == b"data":
            data = body
        pos += 8 + length + (length & 1)  # chunks are word-aligned
    if rate is None or data is None:
        raise ValueError("WAV missing fmt or data chunk")
    if channels != 1 or bits != 16:
        raise ValueError(
            f"unsupported WAV: channels={channels} bits={bits} (16-bit mono only)"
        )
    return rate, np.frombuffer(data[: len(data) // 2 * 2], dtype="<i2")


# ----------------------------------------------------------------------
# AVI (uncompressed 24-bit DIB video)
# ----------------------------------------------------------------------


def _riff_chunk(tag: bytes, body: bytes) -> bytes:
    pad = b"\x00" if len(body) & 1 else b""
    return tag + struct.pack("<I", len(body)) + body + pad


def _riff_list(list_type: bytes, body: bytes) -> bytes:
    return _riff_chunk(b"LIST", list_type + body)


def _dib_pack_gray(pixels: bytes, width: int, height: int) -> bytes:
    """Gray top-down pixels -> 24-bit BGR DIB rows (bottom-up, 4-byte
    stride padding) — the BMP/AVI shared pixel layout."""
    stride = (width * 3 + 3) & ~3
    pad = b"\x00" * (stride - width * 3)
    rows = []
    for r in range(height - 1, -1, -1):
        row = pixels[r * width : (r + 1) * width]
        rows.append(b"".join(bytes((g, g, g)) for g in row) + pad)
    return b"".join(rows)


def _dib_unpack_gray(data: bytes, width: int, height: int, topdown: bool) -> bytes:
    """24-bit DIB rows -> gray top-down pixels (blue channel), honoring
    bottom-up vs top-down (negative biHeight) row order."""
    stride = (width * 3 + 3) & ~3
    if len(data) < stride * height:
        raise ValueError("truncated DIB pixel data")
    out = bytearray()
    order = range(height) if topdown else range(height - 1, -1, -1)
    for r in order:
        out += data[r * stride : r * stride + width * 3][0::3]
    return bytes(out)


def _pack_dibs(frames, width: int, height: int) -> list:
    """Pad/clip each gray frame to width*height and DIB-pack it — the
    shared encoder front half of both AVI muxers (one copy, so the
    video-only and A/V tiers can never diverge on pixel layout)."""
    return [
        _dib_pack_gray(
            bytes(fr).ljust(width * height, b"\x00")[: width * height],
            width,
            height,
        )
        for fr in frames
    ]


def _video_headers(width: int, height: int, fps: int, n_frames: int, frame_bytes: int):
    """The video stream's (strh, strf) pair — shared by both muxers."""
    strh = struct.pack(
        "<4s4sIHHIIIIIIii4H",
        b"vids", b"DIB ", 0, 0, 0, 0,
        1, fps, 0, n_frames, frame_bytes, -1, 0,
        0, 0, width, height,
    )
    strf = struct.pack(
        "<IiiHHIIiiII", 40, width, height, 1, 24, 0, frame_bytes, 2835, 2835, 0, 0
    )
    return strh, strf


def _idx1(movi_chunks) -> bytes:
    """Spec-complete keyframed idx1 over [(tag, body), ...] movi chunks
    (offsets relative to the 'movi' list-type fourcc)."""
    entries, off = [], 4
    for t, d in movi_chunks:
        entries.append(struct.pack("<4sIII", t, 0x10, off, len(d)))
        off += 8 + len(d) + (len(d) & 1)
    return _riff_chunk(b"idx1", b"".join(entries))


def encode_avi_gray(frames, width: int, height: int, fps: int = 10) -> bytes:
    """AVI-1.0 RIFF container of uncompressed 24-bit DIB video frames
    from gray ``frames`` (each ``width*height`` bytes, row-major
    top-down; short frames are zero-padded). One 'vids' stream,
    BI_RGB, bottom-up rows with 4-byte stride padding (the BMP pixel
    layout), one '00db' chunk per frame, plus a spec-complete 'idx1'
    index marking every frame a keyframe."""
    if width <= 0 or height <= 0:
        raise ValueError("width and height must be positive")
    if fps <= 0:
        raise ValueError("fps must be positive")
    frames = list(frames)
    if not frames:
        raise ValueError("AVI needs at least one frame")
    dibs = _pack_dibs(frames, width, height)
    frame_bytes = ((width * 3 + 3) & ~3) * height
    avih = struct.pack(
        "<14I",
        1_000_000 // fps, frame_bytes * fps, 0, 0x10,
        len(dibs), 0, 1, frame_bytes, width, height, 0, 0, 0, 0,
    )
    strh, strf = _video_headers(width, height, fps, len(dibs), frame_bytes)
    hdrl = _riff_list(
        b"hdrl",
        _riff_chunk(b"avih", avih)
        + _riff_list(b"strl", _riff_chunk(b"strh", strh) + _riff_chunk(b"strf", strf)),
    )
    movi_chunks = [(b"00db", d) for d in dibs]
    movi = _riff_list(b"movi", b"".join(_riff_chunk(t, d) for t, d in movi_chunks))
    body = b"AVI " + hdrl + movi + _idx1(movi_chunks)
    return b"RIFF" + struct.pack("<I", len(body)) + body


def _walk_chunks(payload: bytes, pos: int, end: int):
    while pos + 8 <= end:
        tag = payload[pos : pos + 4]
        (length,) = struct.unpack("<I", payload[pos + 4 : pos + 8])
        if pos + 8 + length > end:
            raise ValueError(f"truncated AVI chunk {tag!r}")
        yield tag, pos + 8, length
        pos += 8 + length + (length & 1)


def _parse_avi(payload: bytes) -> dict:
    """Shared AVI-1.0 RIFF tree parse: header streams + per-stream movi
    chunk lists. Tolerates extra chunks/LISTs (JUNK, INFO), an optional
    idx1, and 'rec '-grouped interleave lists. Stream chunks are routed
    by their NN stream id AND validated against the stream's declared
    type — a 'wb' chunk aimed at a video stream (or 'db'/'dc' at an
    audio stream, or any chunk for an undeclared stream id) raises
    rather than polluting the other modality's chunk list with bytes it
    would mis-decode. Returns {"streams": [per-strl dicts in stream
    order], "chunks": {stream_id: [bytes|None, ...]}} where None marks a
    zero-length video dropped-frame chunk. Raises on truncation."""
    if payload[:4] != b"RIFF" or payload[8:12] != b"AVI ":
        raise ValueError("not an AVI: bad RIFF/AVI magic")
    (riff_len,) = struct.unpack("<I", payload[4:8])
    end = min(len(payload), 8 + riff_len)
    streams: list[dict] = []
    chunks: dict[int, list] = {}
    saw_movi = False

    def walk_movi(pos: int, stop: int) -> None:
        for t2, p2, l2 in _walk_chunks(payload, pos, stop):
            if t2 == b"LIST" and payload[p2 : p2 + 4] == b"rec ":
                walk_movi(p2 + 4, p2 + l2)  # interleave group
            elif t2[:2].isdigit() and t2[2:4] in (b"db", b"dc", b"wb"):
                sid = int(t2[:2])
                if sid >= len(streams):
                    raise ValueError(
                        f"corrupt AVI: movi chunk {t2!r} addresses stream "
                        f"{sid}, but hdrl declares only {len(streams)}"
                    )
                stype = streams[sid].get("type")
                suffix = t2[2:4]
                if stype == b"vids" and suffix == b"wb" or (
                    stype == b"auds" and suffix in (b"db", b"dc")
                ):
                    raise ValueError(
                        f"corrupt AVI: movi chunk {t2!r} type contradicts "
                        f"stream {sid}'s declared {stype!r} — refusing to "
                        "decode one modality's bytes as the other"
                    )
                if stype not in (b"vids", b"auds"):
                    continue  # text/other stream payloads: ignore
                body = payload[p2 : p2 + l2]
                if suffix == b"wb":
                    if l2:
                        chunks.setdefault(sid, []).append(body)
                else:  # video: zero-length = dropped-frame marker
                    chunks.setdefault(sid, []).append(body if l2 else None)

    for tag, bpos, blen in _walk_chunks(payload, 12, end):
        if tag != b"LIST":
            continue
        ltype = payload[bpos : bpos + 4]
        if ltype == b"hdrl":
            for t2, p2, l2 in _walk_chunks(payload, bpos + 4, bpos + blen):
                if t2 == b"LIST" and payload[p2 : p2 + 4] == b"strl":
                    st: dict = {}
                    for t3, p3, l3 in _walk_chunks(payload, p2 + 4, p2 + l2):
                        if t3 == b"strh":
                            if l3 < 36:
                                raise ValueError("truncated AVI strh")
                            st["type"] = payload[p3 : p3 + 4]
                            st["scale"], st["rate"] = struct.unpack(
                                "<II", payload[p3 + 20 : p3 + 28]
                            )
                            (st["length"],) = struct.unpack(
                                "<I", payload[p3 + 32 : p3 + 36]
                            )
                        elif t3 == b"strf" and "type" in st and "strf" not in st:
                            if st["type"] == b"vids":
                                if l3 < 40:
                                    raise ValueError("truncated AVI strf")
                                (_hs, w2, h2, _pl, bpp, comp) = struct.unpack(
                                    "<IiiHHI", payload[p3 : p3 + 20]
                                )
                                # strf is authoritative (avih dims are
                                # informational in real files)
                                st["strf"] = {
                                    "width": w2,
                                    "height": abs(h2),
                                    "topdown": h2 < 0,
                                    "bpp": bpp,
                                    "compression": comp,
                                }
                            elif st["type"] == b"auds":
                                if l3 < 16:
                                    raise ValueError("truncated AVI audio strf")
                                fmt, ch, srate, _abps, _ba, bits = struct.unpack(
                                    "<HHIIHH", payload[p3 : p3 + 16]
                                )
                                st["strf"] = {
                                    "fmt": fmt,
                                    "channels": ch,
                                    "sample_rate": srate,
                                    "bits": bits,
                                }
                            else:
                                st["strf"] = {}
                    streams.append(st)
        elif ltype == b"movi":
            saw_movi = True
            walk_movi(bpos + 4, bpos + blen)
    if not saw_movi:
        raise ValueError("AVI missing movi list")
    return {"streams": streams, "chunks": chunks}


def _decode_video_stream(parsed: dict):
    """Video half of the decode, over an already-parsed container —
    shared by decode_avi_gray and decode_avi_av so the A/V demux walks
    the RIFF tree exactly once."""
    vids = [
        (i, st)
        for i, st in enumerate(parsed["streams"])
        if st.get("type") == b"vids" and "strf" in st
    ]
    if not vids:
        raise ValueError("AVI missing vids strh/strf stream headers")
    sid, st = vids[0]
    f = st["strf"]
    if f["compression"] != 0 or f["bpp"] != 24:
        raise ValueError(
            f"unsupported AVI: bpp={f['bpp']} compression="
            f"{f['compression']} (24-bit BI_RGB only)"
        )
    if st["scale"] == 0:
        raise ValueError("malformed AVI: strh dwScale is 0 (fps undefined)")
    raw_frames = parsed["chunks"].get(sid, [])
    if st["length"] and st["length"] != len(raw_frames):
        raise ValueError(
            f"corrupt AVI: strh declares {st['length']} frames but the "
            f"movi list carries {len(raw_frames)} — refusing to report a "
            "frame count the container contradicts"
        )
    fps = round(st["rate"] / st["scale"])
    width, height, topdown = f["width"], f["height"], f["topdown"]
    out: list[bytes] = []
    for d in raw_frames:
        if d is None:  # dropped frame: repeat the previous one
            if not out:
                raise ValueError(
                    "corrupt AVI: dropped-frame marker before any frame"
                )
            out.append(out[-1])
            continue
        out.append(_dib_unpack_gray(d, width, height, topdown))
    return width, height, fps, out


def decode_avi_gray(payload: bytes):
    """Parse an AVI-1.0 file of uncompressed 24-bit DIB frames ->
    (width, height, fps, [gray frame bytes top-down, ...]).

    Walks the RIFF tree tolerating what real muxers emit — extra
    chunks/LISTs (JUNK, INFO), an optional idx1, the '00dc' tag,
    'rec '-grouped interleave lists, zero-length dropped-frame
    chunks (VfW "repeat previous frame": replayed as a copy of the
    prior frame so the stream keeps its declared frame count), and
    co-muxed audio streams (ignored here; decode_avi_av demuxes
    them). strf is authoritative for dimensions (negative biHeight =
    top-down rows, decode_bmp_gray parity) and must declare BI_RGB
    24 bpp; strh must carry a nonzero dwScale (fps = round(rate/
    scale); NTSC-style non-integral rates round) and, when it
    declares a nonzero dwLength, the movi frame count must match it —
    a header/payload mismatch raises rather than silently reporting
    the wrong count. Raises ValueError on malformed or unsupported
    input."""
    return _decode_video_stream(_parse_avi(payload))


def encode_avi_av(
    frames,
    width: int,
    height: int,
    samples,
    sample_rate: int = 8000,
    fps: int = 10,
) -> bytes:
    """AVI-1.0 container with TWO interleaved streams — stream 0 the
    uncompressed DIB video of encode_avi_gray (same shared header and
    pixel-layout builders, so the tiers cannot diverge), stream 1
    PCM16 mono audio — laid out the classic VfW way: per frame period,
    one '00db' video chunk followed by one '01wb' audio chunk carrying
    that period's round(sample_rate/fps) samples (the final chunk
    takes the remainder). Headers are spec-complete: avih dwStreams=2,
    an auds strh with byte-denominated dwScale/dwRate (nBlockAlign /
    nAvgBytesPerSec, dwSampleSize=2) and a WAVEFORMATEX strf, plus a
    keyframed idx1 over both streams."""
    import numpy as np

    if width <= 0 or height <= 0:
        raise ValueError("width and height must be positive")
    if fps <= 0 or sample_rate <= 0:
        raise ValueError("fps and sample_rate must be positive")
    frames = list(frames)
    if not frames:
        raise ValueError("AVI needs at least one frame")
    pcm = np.asarray(samples, dtype="<i2").tobytes()
    dibs = _pack_dibs(frames, width, height)
    frame_bytes = ((width * 3 + 3) & ~3) * height
    n_samples = len(pcm) // 2
    per = round(sample_rate / fps)
    audio_parts = [
        pcm[i * 2 * per : (i + 1) * 2 * per] for i in range(len(dibs) - 1)
    ]
    audio_parts.append(pcm[(len(dibs) - 1) * 2 * per :])  # remainder
    audio_parts = [a for a in audio_parts if a]

    avih = struct.pack(
        "<14I",
        1_000_000 // fps, frame_bytes * fps + sample_rate * 2, 0, 0x10,
        len(dibs), 0, 2, frame_bytes, width, height, 0, 0, 0, 0,
    )
    strh_v, strf_v = _video_headers(width, height, fps, len(dibs), frame_bytes)
    strh_a = struct.pack(
        "<4s4sIHHIIIIIIii4H",
        b"auds", b"\x00\x00\x00\x00", 0, 0, 0, 0,
        2, sample_rate * 2,  # dwScale=nBlockAlign, dwRate=bytes/sec
        0, n_samples, sample_rate * 2, -1, 2,  # dwSampleSize=2
        0, 0, 0, 0,
    )
    strf_a = struct.pack(
        "<HHIIHH", 1, 1, sample_rate, sample_rate * 2, 2, 16
    )
    hdrl = _riff_list(
        b"hdrl",
        _riff_chunk(b"avih", avih)
        + _riff_list(
            b"strl", _riff_chunk(b"strh", strh_v) + _riff_chunk(b"strf", strf_v)
        )
        + _riff_list(
            b"strl", _riff_chunk(b"strh", strh_a) + _riff_chunk(b"strf", strf_a)
        ),
    )
    movi_chunks: list = []
    for i, d in enumerate(dibs):
        movi_chunks.append((b"00db", d))
        if i < len(audio_parts):
            movi_chunks.append((b"01wb", audio_parts[i]))
    movi = _riff_list(
        b"movi", b"".join(_riff_chunk(t, d) for t, d in movi_chunks)
    )
    body = b"AVI " + hdrl + movi + _idx1(movi_chunks)
    return b"RIFF" + struct.pack("<I", len(body)) + body


def decode_avi_av(payload: bytes):
    """Demux an interleaved A/V AVI -> (width, height, fps, frames,
    sample_rate, numpy int16 samples): ONE RIFF tree walk feeding both
    stream views — the video stream decoded exactly as decode_avi_gray,
    plus the first 'auds' stream's PCM16 mono samples reassembled in
    chunk order (interleave order IS sample order). The audio strf must
    declare PCM 16-bit mono — compressed or multi-channel audio
    refuses, like the video side's BI_RGB rule. Raises ValueError when
    the container has no audio stream (use decode_avi_gray for
    video-only files)."""
    import numpy as np

    parsed = _parse_avi(payload)
    width, height, fps, frames = _decode_video_stream(parsed)
    auds = [
        (i, st)
        for i, st in enumerate(parsed["streams"])
        if st.get("type") == b"auds" and "strf" in st
    ]
    if not auds:
        raise ValueError("AVI has no audio stream (use decode_avi_gray)")
    sid, st = auds[0]
    f = st["strf"]
    if f["fmt"] != 1 or f["channels"] != 1 or f["bits"] != 16:
        raise ValueError(
            f"unsupported AVI audio: fmt={f['fmt']} channels="
            f"{f['channels']} bits={f['bits']} (PCM16 mono only)"
        )
    data = b"".join(parsed["chunks"].get(sid, []))
    samples = np.frombuffer(data[: len(data) // 2 * 2], dtype="<i2")
    if st["length"] and st["length"] != samples.size:
        raise ValueError(
            f"corrupt AVI: audio strh declares {st['length']} samples "
            f"but the movi chunks carry {samples.size}"
        )
    return width, height, fps, frames, f["sample_rate"], samples
