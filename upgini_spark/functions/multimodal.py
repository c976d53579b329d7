"""Multimodal columns: image/audio/video as opaque binary payloads.

The full quartet — decode, feature-extract, resize, frame-sample — runs
as Arrow ``mapInPandas`` kernels. Since round 4 the decode is REAL for
every dependency-free format: PCM WAV (stdlib ``wave``), binary P6 PPM
(byte-precise header parser), and uncompressed Cmono Y4M video (with
every-k-th-frame sampling); round 5 adds full PNG (zlib inflate + all
five scanline filters, gray/RGB/RGBA) — the single most common image
format a real pipeline ingests — plus GIF (a from-spec variable-width
LZW decoder: CLEAR/EOI, width growth, 12-bit cap), 24-bit BMP (BGR,
4-byte row padding), and baseline JPEG (functions/jpeg.py: full
DQT/DHT/SOF0/DRI/SOS marker walk, canonical-Huffman entropy decode
with byte unstuffing and restart markers, dequantize + IDCT, 4:2:0
chroma upsampling, YCbCr→RGB); nearest-neighbor PPM resize re-emits
valid payloads; Sun/NeXT .au adds G.711 mu-law audio expansion. MP4
and MP3 get real METADATA probes (ISO-BMFF box walk, MPEG frame-header
walk) — the pass a 100-TB ingest pipeline runs first — while their
SAMPLE decode (H.264/AAC/MP3 synthesis — no codec libraries in this
container) stays behind the clearly marked stub:
``extract_media_features(strict=True)`` raises at the stub boundary,
and truly unknown magic bytes tag format='unknown'. Each real stage is
verified against closed-form ground truth of synthesized real files
(see the media_* oracles in __spark_entry__.py). The sha256
fake-embedding path stays as the engine-portable determinism oracle
for the Arrow plumbing itself.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    DoubleType,
    FloatType,
    IntegerType,
    StringType,
    StructField,
    StructType,
)

MEDIA_SCHEMA = StructType([
    StructField("media_id", StringType(), False),
    StructField("media_type", StringType(), False),   # image | audio | video
    StructField("content", BinaryType(), True),        # opaque payload
    StructField("mime", StringType(), True),
    StructField("width", IntegerType(), True),
    StructField("height", IntegerType(), True),
    StructField("duration_ms", IntegerType(), True),
])

FEATURE_DIM = 16

_FEATURE_SCHEMA = StructType([
    StructField("media_id", StringType(), False),
    StructField("media_type", StringType(), False),
    StructField("n_bytes", IntegerType(), True),
    StructField("content_sha256", StringType(), True),
    StructField("features", ArrayType(FloatType()), True),
])


def _fake_decode_features(content: bytes, dim: int = FEATURE_DIM) -> list[float]:
    """Deterministic fake embedding from the payload bytes (test mode).
    A real decoder (PIL/librosa/ffmpeg) replaces ONLY this function."""
    if content is None:
        return None
    digest = hashlib.sha256(content).digest()
    need = dim * 2
    buf = (digest * ((need // len(digest)) + 1))[:need]
    return [
        int.from_bytes(buf[2 * i: 2 * i + 2], "big") / 65535.0 for i in range(dim)
    ]


def extract_media_features(df: DataFrame, strict: bool = False) -> DataFrame:
    """Decode/feature-extract media rows via ``mapInPandas``.

    Arrow moves the binary column in batches (cap
    ``spark.sql.execution.arrow.maxRecordsPerBatch`` low for large media —
    batch bytes ≈ records x media size). ``strict=True`` raises
    NotImplementedError where a real decoder is required — the clearly
    marked stub boundary.
    """

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if strict:
                raise NotImplementedError(
                    "media decode requires an image/audio library not present "
                    "in this container; plug a real decoder into "
                    "_fake_decode_features"
                )
            out = pd.DataFrame({
                "media_id": pdf["media_id"],
                "media_type": pdf["media_type"],
                "n_bytes": pdf["content"].map(lambda b: len(b) if b is not None else None),
                "content_sha256": pdf["content"].map(
                    lambda b: hashlib.sha256(b).hexdigest() if b is not None else None
                ),
                "features": pdf["content"].map(_fake_decode_features),
            })
            out["n_bytes"] = out["n_bytes"].astype("Int32")
            yield out

    return df.mapInPandas(kernel, schema=_FEATURE_SCHEMA)


def synthetic_media(spark, n_rows: int, seed: int = 42) -> DataFrame:
    """Deterministic fake media table matching MEDIA_SCHEMA (payload =
    repeated md5 bytes; sizes vary by row hash)."""
    df = spark.range(n_rows)
    i = F.col("id")
    h = F.abs(F.xxhash64(i, F.lit(seed)))
    mtype = F.element_at(
        F.array(F.lit("image"), F.lit("audio"), F.lit("video")), (h % 3 + 1).cast("int")
    )
    # repeat factor from the plain row id (portable to any SQL oracle)
    payload = F.to_binary(
        F.repeat(F.md5(i.cast("string")), (i % 8 + 1).cast("int")), F.lit("utf-8")
    )
    return df.select(
        F.format_string("m%09d", i).alias("media_id"),
        mtype.alias("media_type"),
        payload.alias("content"),
        F.lit("application/octet-stream").alias("mime"),
        (h % 1920 + 1).cast("int").alias("width"),
        (h % 1080 + 1).cast("int").alias("height"),
        (h % 60000).cast("int").alias("duration_ms"),
    )


# --------------------------------------------------------------------------
# REAL decoders for dependency-free formats (round 4): WAV audio via the
# stdlib `wave` module, binary PPM (P6) images by direct header+pixel
# parsing. PNG/GIF/BMP/JPEG followed in r5; only MP3/MP4 remain behind
# the documented stub. The decode STAGE is real: sniffed by magic
# bytes, executed in the same Arrow mapInPandas kernel, tested
# end-to-end on synthesized real files.
# --------------------------------------------------------------------------

_DECODED_SCHEMA = StructType([
    StructField("media_id", StringType(), False),
    # wav|au|ppm|png|gif|bmp|jpeg|mp4|mp3|unknown|corrupt
    StructField("format", StringType(), True),
    StructField("n_bytes", IntegerType(), True),
    StructField("width", IntegerType(), True),       # ppm
    StructField("height", IntegerType(), True),      # ppm
    StructField("sample_rate", IntegerType(), True),  # wav
    StructField("n_channels", IntegerType(), True),   # wav
    StructField("duration_ms", IntegerType(), True),  # wav
    # float64: the decode math (integer sums, power-of-two divisors,
    # n-cancelling means) is EXACT in f64, so a SQL oracle can replay the
    # closed-form ground truth bit-identically; f32 storage would make
    # 6dp rounding flaky at the f32 precision boundary
    StructField("features", ArrayType(DoubleType()), True),
])


def _decode_wav(content: bytes):
    """PCM16 WAV stats via stdlib wave: (rate, channels, duration_ms,
    [rms, mean_abs, peak] normalized to [-1, 1])."""
    import io
    import struct
    import wave

    with wave.open(io.BytesIO(content), "rb") as w:
        rate = w.getframerate()
        ch = w.getnchannels()
        n = w.getnframes()
        width = w.getsampwidth()
        raw = w.readframes(n)
    dur_ms = int(n * 1000 / rate) if rate else None
    if width != 2 or not raw:
        return rate, ch, dur_ms, [0.0, 0.0, 0.0]
    samples = struct.unpack(f"<{len(raw) // 2}h", raw)
    k = len(samples)
    rms = (sum(s * s for s in samples) / k) ** 0.5 / 32768.0
    mean_abs = sum(abs(s) for s in samples) / k / 32768.0
    peak = max(abs(s) for s in samples) / 32768.0
    return rate, ch, dur_ms, [float(rms), float(mean_abs), float(peak)]


def _ulaw_to_linear(b: int) -> int:
    """G.711 mu-law expansion (ITU-T G.711 table): 8-bit code ->
    linear sample in [-32124, 32124]. Pure integer bit-math, so the
    media_decode_au SQL oracle replays it verbatim:
    c = 255 - b; s = ((c%16)*8 + 132) * 2^((c%128)//16) - 132, negated
    when c >= 128."""
    c = ~b & 0xFF
    sign = c & 0x80
    exp = (c >> 4) & 7
    mant = c & 0x0F
    s = (((mant << 3) + 0x84) << exp) - 0x84
    return -s if sign else s


_ULAW_TABLE = [_ulaw_to_linear(b) for b in range(256)]


def _alaw_to_linear(b: int) -> int:
    """G.711 A-law expansion: 8-bit code -> linear sample in
    [-32256, 32256]. a = b XOR 0x55; seg = (a%128)//16, m = a%16;
    magnitude = m*16+8 for seg 0 else (m*16+264)*2^(seg-1); bit 7 SET
    means positive (opposite of mu-law's complemented coding). Pure
    integer bit-math, replayed verbatim by the media_decode_au oracle."""
    a = b ^ 0x55
    m = a & 0x0F
    seg = (a >> 4) & 7
    if seg == 0:
        t = (m << 4) + 8
    else:
        t = ((m << 4) + 0x108) << (seg - 1)
    return t if a & 0x80 else -t


_ALAW_TABLE = [_alaw_to_linear(b) for b in range(256)]


def _decode_au(content: bytes):
    """Sun/NeXT .au audio: big-endian 24-byte header (magic '.snd',
    data offset, data size, encoding, sample rate, channels) + sample
    data. Supports encodings 1 (8-bit G.711 mu-law) and 27 (8-bit
    G.711 A-law) — the format's canonical telephony payloads —
    expanding through ``_ULAW_TABLE`` / ``_ALAW_TABLE``; every other
    encoding raises so the row is tagged 'corrupt'. Returns the same
    contract as ``_decode_wav``: (rate, channels, duration_ms,
    [rms, mean_abs, peak] normalized to [-1, 1])."""
    import struct

    if len(content) < 24 or content[:4] != b".snd":
        raise ValueError("not an au file")
    offset, size, enc, rate, ch = struct.unpack(">IIIII", content[4:24])
    if enc not in (1, 27):
        raise ValueError(f"unsupported au encoding {enc}")
    if offset < 24 or offset > len(content):
        raise ValueError("bad au data offset")
    if ch < 1 or rate == 0:
        raise ValueError("bad au header")
    data = content[offset:]
    if size != 0xFFFFFFFF:          # 0xFFFFFFFF = unknown length (spec)
        if len(data) < size:
            raise ValueError("truncated au data")
        data = data[:size]
    nframes = len(data) // ch
    dur_ms = int(nframes * 1000 / rate)
    if not data:
        return rate, ch, dur_ms, [0.0, 0.0, 0.0]
    import math

    tbl = _ULAW_TABLE if enc == 1 else _ALAW_TABLE
    samples = [tbl[b] for b in data]
    k = len(samples)
    # math.sqrt (correctly-rounded IEEE sqrt) == DuckDB sqrt, so the
    # oracle replays this bit-for-bit; ** 0.5 routes through libm pow
    rms = math.sqrt(sum(s * s for s in samples) / k) / 32768.0
    mean_abs = sum(abs(s) for s in samples) / k / 32768.0
    peak = max(abs(s) for s in samples) / 32768.0
    return rate, ch, dur_ms, [float(rms), float(mean_abs), float(peak)]


# --------------------------------------------------------------------------
# MP4 / MP3 metadata probes (r5): the two formats whose SAMPLE decode is
# genuinely out of reach without codec libraries (H.264/AAC, MP3 synthesis
# filterbank) get REAL container-level parsing instead — which is what a
# 100-TB ingest pipeline runs first anyway (probe → route → transcode
# elsewhere). ISO-BMFF box walk (ftyp/moov/mvhd/trak/tkhd/mdia/mdhd/hdlr/
# stsd) and MPEG audio frame-header walking (bitrate/samplerate tables,
# ID3v2 skip) are pure public-spec header math, so both are closed-form
# oracle-gated like the full decoders. PCM output remains behind the
# documented stub.
# --------------------------------------------------------------------------


def _probe_mp4(content: bytes):
    """ISO base-media (MP4) container probe: top-level box walk →
    moov/mvhd movie duration, per-track hdlr/tkhd/mdhd/stsd metadata.
    Returns (duration_ms, width, height, sample_rate, n_channels,
    [n_video_tracks, n_audio_tracks]). Raises on malformed boxes so the
    row is tagged 'corrupt'."""
    import struct

    def walk(buf, start, end):
        pos = start
        while pos + 8 <= end:
            (size,), btype = struct.unpack(">I", buf[pos:pos + 4]), buf[pos + 4:pos + 8]
            hdr = 8
            if size == 1:
                (size,) = struct.unpack(">Q", buf[pos + 8:pos + 16])
                hdr = 16
            elif size == 0:
                size = end - pos
            if size < hdr or pos + size > end:
                raise ValueError("bad mp4 box size")
            yield btype, pos + hdr, pos + size
            pos += size
        if pos != end:
            raise ValueError("trailing mp4 bytes")

    top = {t: (s, e) for t, s, e in walk(content, 0, len(content))}
    if b"moov" not in top:
        raise ValueError("no moov box")
    dur_ms = None
    width = height = rate = channels = None
    nv = na = 0
    ms, me = top[b"moov"]
    for btype, s, e in walk(content, ms, me):
        if btype == b"mvhd":
            ver = content[s]
            if ver == 1:
                ts, dur = struct.unpack(">IQ", content[s + 20:s + 32])
            else:
                ts, dur = struct.unpack(">II", content[s + 12:s + 20])
            if ts == 0:
                raise ValueError("zero mvhd timescale")
            dur_ms = int(dur * 1000 / ts)
        elif btype == b"trak":
            t_w = t_h = t_rate = t_ch = None
            handler = None
            for bt2, s2, e2 in walk(content, s, e):
                if bt2 == b"tkhd":
                    # v0: 4 ver/flags + 4+4 times + 4 id + 4 res + 4 dur
                    #     + 8 res + 2+2+2+2 + 36 matrix = width @ 76
                    ver = content[s2]
                    off = s2 + (88 if ver == 1 else 76)
                    fw, fh = struct.unpack(">II", content[off:off + 8])
                    t_w, t_h = fw >> 16, fh >> 16
                elif bt2 == b"mdia":
                    # two passes over mdia's children: ISO 14496-12 does
                    # not mandate hdlr-before-minf ordering, so resolve
                    # the handler FIRST, then parse minf/stbl/stsd
                    # (r5 advice item — reordered-but-valid files
                    # otherwise lose sample_rate/n_channels)
                    kids = list(walk(content, s2, e2))
                    for bt3, s3, _e3 in kids:
                        if bt3 == b"hdlr":
                            handler = content[s3 + 8:s3 + 12]
                    for bt3, s3, e3 in kids:
                        if bt3 == b"minf" and handler == b"soun":
                            for bt4, s4, e4 in walk(content, s3, e3):
                                if bt4 != b"stbl":
                                    continue
                                for bt5, s5, e5 in walk(content, s4, e4):
                                    if bt5 != b"stsd":
                                        continue
                                    # AudioSampleEntry: 8 box hdr + 6 res
                                    # + 2 dref + 8 res, then channelcount
                                    # @24, samplerate (16.16) @32
                                    entry = s5 + 8
                                    t_ch = struct.unpack(
                                        ">H", content[entry + 24:entry + 26]
                                    )[0]
                                    t_rate = struct.unpack(
                                        ">I", content[entry + 32:entry + 36]
                                    )[0] >> 16
            if handler == b"vide":
                nv += 1
                if width is None:
                    width, height = t_w, t_h
            elif handler == b"soun":
                na += 1
                if rate is None:
                    rate, channels = t_rate, t_ch
    return dur_ms, width, height, rate, channels, [float(nv), float(na)]


# MPEG1 Layer III bitrate (kbps) and sample-rate tables (public spec)
_MP3_BITRATES = [0, 32, 40, 48, 56, 64, 80, 96, 112, 128, 160, 192, 224, 256, 320]
_MP3_RATES = [44100, 48000, 32000]


def _probe_mp3(content: bytes):
    """MPEG1 Layer III frame-header walk: optional ID3v2 skip (syncsafe
    size), then per-frame size = 144000·bitrate_kbps / samplerate +
    padding; duration = frames·1152/rate. Returns (duration_ms,
    sample_rate, n_channels, [n_frames, bitrate_kbps_of_first_frame]).
    Free-form bitrate (index 0), reserved indices, or desync raise."""
    pos = 0
    if content[:3] == b"ID3":
        if len(content) < 10:
            raise ValueError("truncated id3")
        size = 0
        for b in content[6:10]:
            if b & 0x80:
                raise ValueError("bad syncsafe byte")
            size = (size << 7) | b
        pos = 10 + size
    frames = 0
    rate = channels = first_kbps = None
    n = len(content)
    while pos < n:
        if pos + 4 > n:
            raise ValueError("truncated mp3 frame header")
        h0, h1, h2, h3 = content[pos:pos + 4]
        if h0 != 0xFF or (h1 & 0xE0) != 0xE0:
            raise ValueError("lost mp3 sync")
        version = (h1 >> 3) & 3
        layer = (h1 >> 1) & 3
        if version != 3 or layer != 1:       # MPEG1 Layer III only
            raise ValueError("not MPEG1 Layer III")
        bidx = (h2 >> 4) & 15
        sidx = (h2 >> 2) & 3
        pad = (h2 >> 1) & 1
        mode = (h3 >> 6) & 3
        if bidx in (0, 15) or sidx == 3:
            raise ValueError("reserved mp3 header field")
        kbps = _MP3_BITRATES[bidx]
        r = _MP3_RATES[sidx]
        fsize = 144000 * kbps // r + pad
        if rate is None:
            rate = r
            channels = 1 if mode == 3 else 2
            first_kbps = kbps
        elif r != rate:
            raise ValueError("sample-rate change mid-stream")
        if pos + fsize > n:
            raise ValueError("truncated mp3 frame")
        pos += fsize
        frames += 1
    if frames == 0:
        raise ValueError("no mp3 frames")
    dur_ms = int(frames * 1152 * 1000 / rate)
    return dur_ms, rate, channels, [float(frames), float(first_kbps)]


def _box(btype: bytes, payload: bytes, largesize: bool = False) -> bytes:
    """ISO-BMFF box (fixture-side). ``largesize`` uses the 64-bit size
    form (size field = 1) to exercise that parser branch."""
    import struct

    if largesize:
        return (
            struct.pack(">I", 1) + btype
            + struct.pack(">Q", 16 + len(payload)) + payload
        )
    return struct.pack(">I", 8 + len(payload)) + btype + payload


def _encode_mp4(duration, timescale, w, h, rate, ch, extra_audio=False,
                mvhd_v1=False, mdat_bytes=0, largesize_mdat=False):
    """Minimal spec-valid MP4 (fixture-side): ftyp + moov(mvhd +
    video trak + audio trak[s]) + mdat. Only the boxes the probe reads
    are populated; layouts follow ISO/IEC 14496-12."""
    import struct

    ftyp = _box(b"ftyp", b"isom" + struct.pack(">I", 512) + b"iso2mp41")
    if mvhd_v1:
        mvhd_p = (
            b"\x01" + bytes(3) + bytes(16)
            + struct.pack(">IQ", timescale, duration) + bytes(80)
        )
    else:
        mvhd_p = (
            bytes(4) + bytes(8)
            + struct.pack(">II", timescale, duration) + bytes(80)
        )
    mvhd = _box(b"mvhd", mvhd_p)

    def tkhd(tw, th):
        return _box(b"tkhd", bytes(76) + struct.pack(">II", tw << 16, th << 16))

    def hdlr(handler):
        return _box(b"hdlr", bytes(4) + bytes(4) + handler + bytes(12) + b"\x00")

    mdhd = _box(b"mdhd", bytes(4) + bytes(8)
                + struct.pack(">II", timescale, duration) + bytes(4))

    def trak(handler, tw, th, stsd_entry):
        stsd = _box(b"stsd", bytes(4) + struct.pack(">I", 1) + stsd_entry)
        minf = _box(b"minf", _box(b"stbl", stsd))
        mdia = _box(b"mdia", mdhd + hdlr(handler) + minf)
        return _box(b"trak", tkhd(tw, th) + mdia)

    visual = _box(
        b"avc1",
        bytes(6) + struct.pack(">H", 1) + bytes(16)
        + struct.pack(">HH", w, h) + bytes(50),
    )
    audio = _box(
        b"mp4a",
        bytes(6) + struct.pack(">H", 1) + bytes(8)
        + struct.pack(">HH", ch, 16) + bytes(4)
        + struct.pack(">I", rate << 16),
    )
    traks = trak(b"vide", w, h, visual) + trak(b"soun", 0, 0, audio)
    if extra_audio:
        traks += trak(b"soun", 0, 0, audio)
    moov = _box(b"moov", mvhd + traks)
    mdat = _box(b"mdat", bytes(mdat_bytes), largesize=largesize_mdat)
    return ftyp + moov + mdat


def _encode_mp3(frames, bidx, sidx, mono, id3_size=None, pad_fn=None):
    """Minimal MPEG1 Layer III stream (fixture-side): optional ID3v2
    header, then ``frames`` zero-payload frames with real headers."""
    out = bytearray()
    if id3_size is not None:
        out += b"ID3\x03\x00\x00" + bytes(
            [(id3_size >> 21) & 0x7F, (id3_size >> 14) & 0x7F,
             (id3_size >> 7) & 0x7F, id3_size & 0x7F]
        )
        out += bytes(id3_size)
    kbps = _MP3_BITRATES[bidx]
    rate = _MP3_RATES[sidx]
    for j in range(frames):
        pad = pad_fn(j) if pad_fn else 0
        h2 = (bidx << 4) | (sidx << 2) | (pad << 1)
        h3 = 0xC0 if mono else 0x00
        fsize = 144000 * kbps // rate + pad
        frame = bytearray([0xFF, 0xFB, h2, h3]) + bytes(fsize - 4)
        out += frame
    return bytes(out)


def _decode_ppm(content: bytes):
    """Binary PPM (P6): (width, height, [mean_r, mean_g, mean_b,
    luminance] normalized to [0, 1]). Header parsing delegated to
    ``_parse_ppm`` (byte-precise — a whitespace-split would eat PIXEL
    bytes whenever the first pixel value happens to be 0x09-0x0d/0x20,
    a real bug this parser had: 6/200 synthetic images decoded
    'corrupt')."""
    w, h, maxval, pixels = _parse_ppm(content)
    sums = [0, 0, 0]
    for i in range(0, len(pixels), 3):
        sums[0] += pixels[i]
        sums[1] += pixels[i + 1]
        sums[2] += pixels[i + 2]
    n = w * h
    means = [s / n / maxval for s in sums]
    lum = 0.2126 * means[0] + 0.7152 * means[1] + 0.0722 * means[2]
    return w, h, [float(means[0]), float(means[1]), float(means[2]), float(lum)]


_PNG_SIG = b"\x89PNG\r\n\x1a\n"


def _paeth(a: int, b: int, c: int) -> int:
    p = a + b - c
    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
    if pa <= pb and pa <= pc:
        return a
    return b if pb <= pc else c


def _decode_png(content: bytes):
    """Pure-stdlib PNG decode (r5): IHDR parse + concatenated-IDAT zlib
    inflate + the five scanline filters (None/Sub/Up/Average/Paeth),
    per the PNG spec. Supports non-interlaced 8-bit grayscale (color
    type 0), RGB (2), and RGBA (6) — alpha is ignored by the features;
    palette/16-bit/interlaced raise so the row is tagged 'corrupt'.
    Returns (width, height, [mean_r, mean_g, mean_b, luminance]) in
    [0, 1], the same feature contract as the P6 path.

    Per-pixel Python is fine here because images arrive pre-batched via
    Arrow and the synthetic fixtures are small; a numpy unfilter (row-
    vectorized for Up/Average, scalar-scan for Sub/Paeth) is the drop-in
    hot-path upgrade if real volumes ever hit this kernel."""
    import struct
    import zlib

    if content[:8] != _PNG_SIG:
        raise ValueError("not a png")
    pos, ihdr, idat = 8, None, bytearray()
    while pos + 8 <= len(content):
        (length,), ctype = struct.unpack(">I", content[pos:pos + 4]), content[pos + 4:pos + 8]
        data = content[pos + 8:pos + 8 + length]
        if len(data) < length:
            raise ValueError("truncated chunk")
        if ctype == b"IHDR":
            ihdr = struct.unpack(">IIBBBBB", data)
        elif ctype == b"IDAT":
            idat += data
        elif ctype == b"IEND":
            break
        pos += 12 + length  # length + type + data + crc
    if ihdr is None or not idat:
        raise ValueError("missing IHDR/IDAT")
    w, h, depth, color_type, comp, filt, interlace = ihdr
    if depth != 8 or comp != 0 or filt != 0 or interlace != 0:
        raise ValueError(f"unsupported png (depth={depth}, interlace={interlace})")
    bpp = {0: 1, 2: 3, 6: 4}.get(color_type)
    if bpp is None:
        raise ValueError(f"unsupported color type {color_type}")
    raw = zlib.decompress(bytes(idat))
    stride = w * bpp
    if len(raw) < h * (stride + 1):
        raise ValueError("truncated png data")
    prev = bytearray(stride)
    sums = [0, 0, 0]
    off = 0
    for _y in range(h):
        ft = raw[off]
        line = bytearray(raw[off + 1:off + 1 + stride])
        off += stride + 1
        if ft == 1:    # Sub
            for i in range(bpp, stride):
                line[i] = (line[i] + line[i - bpp]) & 0xFF
        elif ft == 2:  # Up
            for i in range(stride):
                line[i] = (line[i] + prev[i]) & 0xFF
        elif ft == 3:  # Average
            for i in range(stride):
                left = line[i - bpp] if i >= bpp else 0
                line[i] = (line[i] + ((left + prev[i]) >> 1)) & 0xFF
        elif ft == 4:  # Paeth
            for i in range(stride):
                left = line[i - bpp] if i >= bpp else 0
                up_left = prev[i - bpp] if i >= bpp else 0
                line[i] = (line[i] + _paeth(left, prev[i], up_left)) & 0xFF
        elif ft != 0:
            raise ValueError(f"bad filter type {ft}")
        if color_type == 0:
            s = sum(line)
            sums[0] += s
            sums[1] += s
            sums[2] += s
        else:
            for i in range(0, stride, bpp):
                sums[0] += line[i]
                sums[1] += line[i + 1]
                sums[2] += line[i + 2]
        prev = line
    n = w * h
    means = [s / n / 255.0 for s in sums]
    lum = 0.2126 * means[0] + 0.7152 * means[1] + 0.0722 * means[2]
    return w, h, [float(means[0]), float(means[1]), float(means[2]), float(lum)]


def _encode_png(
    w: int, h: int, rows: list[bytes], color_type: int = 2,
    row_filters: list[int] | None = None,
) -> bytes:
    """Minimal valid PNG encoder (fixture-side): unfiltered pixel rows in,
    spec-correct chunk stream out (CRC32 per chunk). ``row_filters``
    applies a real scanline filter per row, so round-trip fixtures can
    exercise every decoder filter branch with closed-form pixel truth."""
    import struct
    import zlib

    bpp = {0: 1, 2: 3, 6: 4}[color_type]
    stride = w * bpp
    filtered = bytearray()
    prev = bytes(stride)
    for y, row in enumerate(rows):
        ft = row_filters[y % len(row_filters)] if row_filters else 0
        filtered.append(ft)
        if ft == 0:
            filtered += row
        elif ft == 1:
            filtered += bytes(
                (row[i] - (row[i - bpp] if i >= bpp else 0)) & 0xFF
                for i in range(stride)
            )
        elif ft == 2:
            filtered += bytes((row[i] - prev[i]) & 0xFF for i in range(stride))
        elif ft == 3:
            filtered += bytes(
                (row[i] - (((row[i - bpp] if i >= bpp else 0) + prev[i]) >> 1)) & 0xFF
                for i in range(stride)
            )
        elif ft == 4:
            filtered += bytes(
                (row[i] - _paeth(
                    row[i - bpp] if i >= bpp else 0,
                    prev[i],
                    prev[i - bpp] if i >= bpp else 0,
                )) & 0xFF
                for i in range(stride)
            )
        else:
            raise ValueError(f"bad filter {ft}")
        prev = row

    def chunk(ctype: bytes, data: bytes) -> bytes:
        return (
            struct.pack(">I", len(data)) + ctype + data
            + struct.pack(">I", zlib.crc32(ctype + data) & 0xFFFFFFFF)
        )

    ihdr = struct.pack(">IIBBBBB", w, h, 8, color_type, 0, 0, 0)
    return (
        _PNG_SIG
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(bytes(filtered)))
        + chunk(b"IEND", b"")
    )


# --------------------------------------------------------------------------
# GIF (full LZW) + BMP — round-5 continuation: two more dependency-free
# real decoders. GIF is the first COMPRESSED-bitstream image format here
# beyond PNG's zlib: variable-width LSB-first LZW with CLEAR/EOI, code
# width growth and the 12-bit table cap are all implemented from the
# GIF89a spec. BMP covers the uncompressed 24-bit BI_RGB case (BGR byte
# order, 4-byte row padding, bottom-up or top-down). Same feature
# contract as PPM/PNG: (w, h, [mean_r, mean_g, mean_b, luminance]).
# --------------------------------------------------------------------------


def _lzw_decode(data: bytes, min_code_size: int) -> bytearray:
    """GIF-flavor LZW: LSB-first variable-width codes. The width bump
    mirrors the encoder exactly — after processing the code whose table
    append makes ``len(table) == 2**width`` — and the 12-bit cap stops
    appends (deferred-clear tolerant) until a CLEAR resets."""
    clear = 1 << min_code_size
    eoi = clear + 1
    table: list[bytes] = []
    code_size = min_code_size + 1
    prev: bytes | None = None
    out = bytearray()
    acc = bits = 0
    pos = 0

    def reset():
        nonlocal table, code_size, prev
        table = [bytes([i]) for i in range(clear)] + [b"", b""]
        code_size = min_code_size + 1
        prev = None

    reset()
    while True:
        while bits < code_size:
            if pos >= len(data):
                raise ValueError("truncated LZW stream")
            acc |= data[pos] << bits
            bits += 8
            pos += 1
        code = acc & ((1 << code_size) - 1)
        acc >>= code_size
        bits -= code_size
        if code == clear:
            reset()
            continue
        if code == eoi:
            return out
        if prev is None:
            if code >= len(table):
                raise ValueError("bad first LZW code")
            entry = table[code]
        elif code < len(table):
            entry = table[code]
            if len(table) < 4096:
                table.append(prev + entry[:1])
        elif code == len(table) and len(table) < 4096:
            entry = prev + prev[:1]  # the KwKwK special case
            table.append(entry)
        else:
            raise ValueError("LZW code out of range")
        out += entry
        prev = entry
        if len(table) == (1 << code_size) and code_size < 12:
            code_size += 1


def _lzw_encode(indices, min_code_size: int) -> bytes:
    """GIF-flavor LZW encoder (fixture-side twin of ``_lzw_decode``).
    Emits CLEAR when the table fills at 4096, so arbitrarily long index
    streams round-trip; the width bump fires after assigning the code
    equal to ``2**width`` (one step later than the decoder's append, the
    classic GIF off-by-one both sides must share)."""
    clear = 1 << min_code_size
    eoi = clear + 1
    out = bytearray()
    acc = bits = 0
    code_size = min_code_size + 1

    def emit(code: int) -> None:
        nonlocal acc, bits
        acc |= code << bits
        bits += code_size
        while bits >= 8:
            out.append(acc & 0xFF)
            acc >>= 8
            bits -= 8

    table = {(i,): i for i in range(clear)}
    next_code = eoi + 1
    emit(clear)
    buf: tuple[int, ...] = ()
    for px in indices:
        cand = buf + (int(px),)
        if cand in table:
            buf = cand
            continue
        emit(table[buf])
        if next_code < 4096:
            table[cand] = next_code
            next_code += 1
            if next_code - 1 == (1 << code_size) and code_size < 12:
                code_size += 1
        else:
            emit(clear)
            table = {(i,): i for i in range(clear)}
            next_code = eoi + 1
            code_size = min_code_size + 1
        buf = (int(px),)
    if buf:
        emit(table[buf])
    emit(eoi)
    if bits:
        out.append(acc & 0xFF)
    return bytes(out)


def _decode_gif(content: bytes):
    """GIF87a/89a decode: logical-screen + color tables + extension-block
    walk, then full LZW on the first image's sub-block stream. Local
    color tables override the global one; interlaced images raise (tagged
    'corrupt', like interlaced PNG). Returns the PPM/PNG feature
    contract: (w, h, [mean_r, mean_g, mean_b, luminance]) in [0, 1] with
    the exact division sequence sum / n / 255.0."""
    import struct

    if content[:6] not in (b"GIF87a", b"GIF89a"):
        raise ValueError("not a gif")
    if len(content) < 13:
        raise ValueError("truncated gif header")
    _sw, _sh, packed, _bg, _ar = struct.unpack("<HHBBB", content[6:13])
    pos = 13
    gct = None
    if packed & 0x80:
        size = 2 << (packed & 0x07)
        gct = content[pos:pos + 3 * size]
        if len(gct) < 3 * size:
            raise ValueError("truncated global color table")
        pos += 3 * size
    while pos < len(content):
        b0 = content[pos]
        pos += 1
        if b0 == 0x3B:
            raise ValueError("gif has no image data")
        if b0 == 0x21:  # extension: label byte + data sub-blocks
            pos += 1
            while True:
                if pos >= len(content):
                    raise ValueError("truncated extension")
                n = content[pos]
                pos += 1
                if n == 0:
                    break
                pos += n
            continue
        if b0 != 0x2C:
            raise ValueError(f"unexpected gif block 0x{b0:02x}")
        if pos + 9 > len(content):
            raise ValueError("truncated image descriptor")
        _ix, _iy, iw, ih, ipk = struct.unpack("<HHHHB", content[pos:pos + 9])
        pos += 9
        pal = gct
        if ipk & 0x80:
            size = 2 << (ipk & 0x07)
            pal = content[pos:pos + 3 * size]
            if len(pal) < 3 * size:
                raise ValueError("truncated local color table")
            pos += 3 * size
        if ipk & 0x40:
            raise ValueError("interlaced gif unsupported")
        if pal is None:
            raise ValueError("gif image has no color table")
        if iw <= 0 or ih <= 0:
            raise ValueError("bad gif dims")
        mcs = content[pos]
        pos += 1
        data = bytearray()
        while True:
            if pos >= len(content):
                raise ValueError("truncated image data")
            n = content[pos]
            pos += 1
            if n == 0:
                break
            data += content[pos:pos + n]
            pos += n
        idx = _lzw_decode(bytes(data), mcs)
        if len(idx) < iw * ih:
            raise ValueError("short gif index stream")
        npal = len(pal) // 3
        sums = [0, 0, 0]
        for i in range(iw * ih):
            k = idx[i]
            if k >= npal:
                raise ValueError("palette index out of range")
            sums[0] += pal[3 * k]
            sums[1] += pal[3 * k + 1]
            sums[2] += pal[3 * k + 2]
        n = iw * ih
        means = [s / n / 255.0 for s in sums]
        lum = 0.2126 * means[0] + 0.7152 * means[1] + 0.0722 * means[2]
        return iw, ih, [float(means[0]), float(means[1]), float(means[2]),
                        float(lum)]
    raise ValueError("truncated gif")


def _encode_gif(
    w: int, h: int, indices, palette: list[tuple[int, int, int]],
) -> bytes:
    """Minimal valid single-frame GIF89a encoder (fixture-side): global
    color table padded to a power of two, real LZW-compressed index
    stream in ≤255-byte sub-blocks."""
    import struct

    bits = max(2, (len(palette) - 1).bit_length())
    table_n = 1 << bits
    pal = bytearray()
    for r, g, b in palette:
        pal += bytes((r, g, b))
    pal += bytes(3 * (table_n - len(palette)))
    out = bytearray(b"GIF89a")
    out += struct.pack("<HHBBB", w, h, 0x80 | (bits - 1), 0, 0)
    out += pal
    out += b"\x2C" + struct.pack("<HHHHB", 0, 0, w, h, 0)
    out.append(bits)
    comp = _lzw_encode(indices, bits)
    for i in range(0, len(comp), 255):
        block = comp[i:i + 255]
        out.append(len(block))
        out += block
    out.append(0)
    out += b"\x3B"
    return bytes(out)


def _decode_bmp(content: bytes):
    """Uncompressed 24-bit BI_RGB BMP: BITMAPINFOHEADER (or longer) with
    4-byte-padded BGR rows, bottom-up (h > 0) or top-down (h < 0) — row
    order cancels in the channel means. Other bit depths / compressions
    raise → 'corrupt'. Same feature contract as PPM/PNG/GIF."""
    import struct

    if content[:2] != b"BM":
        raise ValueError("not a bmp")
    if len(content) < 54:
        raise ValueError("truncated bmp header")
    data_off = struct.unpack("<I", content[10:14])[0]
    hdr_size = struct.unpack("<I", content[14:18])[0]
    if hdr_size < 40:
        raise ValueError("unsupported bmp header")
    w, h_raw = struct.unpack("<ii", content[18:26])
    bpp = struct.unpack("<H", content[28:30])[0]
    comp = struct.unpack("<I", content[30:34])[0]
    if bpp != 24 or comp != 0:
        raise ValueError(f"unsupported bmp (bpp={bpp}, comp={comp})")
    if w <= 0 or h_raw == 0:
        raise ValueError("bad bmp dims")
    h = abs(h_raw)
    stride = (w * 3 + 3) & ~3
    px = content[data_off:data_off + stride * h]
    if len(px) < stride * h:
        raise ValueError("truncated bmp pixels")
    sums = [0, 0, 0]
    for y in range(h):
        row = px[y * stride:y * stride + w * 3]
        for i in range(0, w * 3, 3):
            sums[2] += row[i]       # BMP stores BGR
            sums[1] += row[i + 1]
            sums[0] += row[i + 2]
    n = w * h
    means = [s / n / 255.0 for s in sums]
    lum = 0.2126 * means[0] + 0.7152 * means[1] + 0.0722 * means[2]
    return w, h, [float(means[0]), float(means[1]), float(means[2]),
                  float(lum)]


def _encode_bmp(w: int, h: int, rows: list[bytes]) -> bytes:
    """Minimal valid 24-bit BMP encoder (fixture-side): top-down RGB rows
    in, spec-correct bottom-up padded BGR out."""
    import struct

    stride = (w * 3 + 3) & ~3
    px = bytearray()
    for row in reversed(rows):
        line = bytearray()
        for i in range(0, w * 3, 3):
            line += bytes((row[i + 2], row[i + 1], row[i]))  # RGB -> BGR
        line += bytes(stride - w * 3)
        px += line
    info = struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, stride * h,
                       2835, 2835, 0, 0)
    hdr = struct.pack("<2sIHHI", b"BM", 54 + stride * h, 0, 0, 54)
    return hdr + info + bytes(px)


def decode_media(df: DataFrame) -> DataFrame:
    """Real decode stage: sniff the payload's magic bytes and parse WAV /
    PPM with stdlib-only decoders inside one Arrow ``mapInPandas``
    kernel; unknown formats yield format='unknown' with byte stats only
    (the documented stub boundary for heavy codecs). One row out per
    media row in; batch bytes ≈ records × media size, so cap
    ``spark.sql.execution.arrow.maxRecordsPerBatch`` for big media."""

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for mid, content in zip(pdf["media_id"], pdf["content"]):
                rec = {
                    "media_id": mid, "format": "unknown",
                    "n_bytes": len(content) if content is not None else None,
                    "width": None, "height": None, "sample_rate": None,
                    "n_channels": None, "duration_ms": None, "features": None,
                }
                try:
                    if content is None:
                        pass
                    elif content[:4] == b"RIFF" and content[8:12] == b"WAVE":
                        rate, ch, dur, feats = _decode_wav(bytes(content))
                        rec.update(format="wav", sample_rate=rate,
                                   n_channels=ch, duration_ms=dur,
                                   features=feats)
                    elif content[:4] == b".snd":
                        rate, ch, dur, feats = _decode_au(bytes(content))
                        rec.update(format="au", sample_rate=rate,
                                   n_channels=ch, duration_ms=dur,
                                   features=feats)
                    elif content[:2] == b"P6":
                        w, h, feats = _decode_ppm(bytes(content))
                        rec.update(format="ppm", width=w, height=h,
                                   features=feats)
                    elif content[:8] == _PNG_SIG:
                        w, h, feats = _decode_png(bytes(content))
                        rec.update(format="png", width=w, height=h,
                                   features=feats)
                    elif content[:6] in (b"GIF87a", b"GIF89a"):
                        w, h, feats = _decode_gif(bytes(content))
                        rec.update(format="gif", width=w, height=h,
                                   features=feats)
                    elif content[:2] == b"BM":
                        w, h, feats = _decode_bmp(bytes(content))
                        rec.update(format="bmp", width=w, height=h,
                                   features=feats)
                    elif content[:3] == b"\xff\xd8\xff":
                        from upgini_spark.functions.jpeg import decode_jpeg

                        w, h, feats = decode_jpeg(bytes(content))
                        rec.update(format="jpeg", width=w, height=h,
                                   features=feats)
                    elif len(content) >= 12 and content[4:8] == b"ftyp":
                        dur, w, h, rate, ch, feats = _probe_mp4(bytes(content))
                        rec.update(format="mp4", duration_ms=dur, width=w,
                                   height=h, sample_rate=rate,
                                   n_channels=ch, features=feats)
                    elif content[:3] == b"ID3" or (
                        len(content) >= 4 and content[0] == 0xFF
                        and (content[1] & 0xE0) == 0xE0
                    ):
                        dur, rate, ch, feats = _probe_mp3(bytes(content))
                        rec.update(format="mp3", duration_ms=dur,
                                   sample_rate=rate, n_channels=ch,
                                   features=feats)
                except Exception:
                    rec["format"] = "corrupt"  # keep the row, flag it
                rows.append(rec)
            out = pd.DataFrame(rows, columns=[f.name for f in _DECODED_SCHEMA.fields])
            for c in ("n_bytes", "width", "height", "sample_rate",
                      "n_channels", "duration_ms"):
                out[c] = out[c].astype("Int32")
            yield out

    return df.mapInPandas(kernel, schema=_DECODED_SCHEMA)


def synthetic_real_media(spark, n_rows: int) -> DataFrame:
    """Rows of REAL WAV and PPM payloads, deterministically synthesized
    per id inside an Arrow kernel (no driver-side byte building): even
    ids → 16-bit mono WAV of a constant-amplitude square wave, odd ids →
    solid-color P6 PPM. Ground truth for every decoded field is a closed
    form of the id, so tests verify the decode END TO END."""
    import io
    import struct
    import wave as wave_mod

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            recs = []
            for i in pdf["id"]:
                i = int(i)
                if i % 2 == 0:
                    rate = 8000
                    n = 400 + (i % 5) * 80    # 50-90 ms
                    amp = 1000 + (i % 7) * 1000
                    frames = struct.pack(
                        f"<{n}h", *[amp if j % 2 == 0 else -amp for j in range(n)]
                    )
                    buf = io.BytesIO()
                    with wave_mod.open(buf, "wb") as w:
                        w.setnchannels(1)
                        w.setsampwidth(2)
                        w.setframerate(rate)
                        w.writeframes(frames)
                    content = buf.getvalue()
                    mtype = "audio"
                else:
                    w_px, h_px = 4 + i % 5, 3 + i % 4
                    r, g, b = i % 256, (i * 7) % 256, (i * 13) % 256
                    content = (
                        f"P6\n{w_px} {h_px}\n255\n".encode()
                        + bytes([r, g, b]) * (w_px * h_px)
                    )
                    mtype = "image"
                recs.append({
                    "media_id": f"m{i:09d}", "media_type": mtype,
                    "content": content, "mime": None, "width": None,
                    "height": None, "duration_ms": None,
                })
            out = pd.DataFrame(recs, columns=[f.name for f in MEDIA_SCHEMA.fields])
            for c in ("width", "height", "duration_ms"):
                out[c] = out[c].astype("Int32")
            yield out

    return spark.range(n_rows).mapInPandas(kernel, schema=MEDIA_SCHEMA)


# --------------------------------------------------------------------------
# Video: uncompressed Y4M (YUV4MPEG2, Cmono) + frame sampling — the third
# real stdlib decode. Frame-sample = decode every ``stride``-th frame
# only, the standard video feature-extraction access pattern (no codec
# needed for Y4M: header line + "FRAME\n" + raw luma planes).
# --------------------------------------------------------------------------

_FRAME_SCHEMA = StructType([
    StructField("media_id", StringType(), False),
    StructField("format", StringType(), True),
    StructField("width", IntegerType(), True),
    StructField("height", IntegerType(), True),
    StructField("n_frames", IntegerType(), True),
    StructField("frame_idx", IntegerType(), True),
    StructField("luma_mean", DoubleType(), True),
])


def _decode_y4m(content: bytes, stride: int = 1):
    """Parse a Cmono YUV4MPEG2 stream: returns (width, height, n_frames,
    [(frame_idx, luma_mean)]) for frames 0, stride, 2·stride, … Only the
    SAMPLED frames' pixel bytes are touched — the others are skipped by
    offset arithmetic, which is the point of frame sampling."""
    nl = content.index(b"\n")
    header = content[:nl].split()
    if header[0] != b"YUV4MPEG2":
        raise ValueError("not a y4m stream")
    w = h = None
    for tok in header[1:]:
        if tok[:1] == b"W":
            w = int(tok[1:])
        elif tok[:1] == b"H":
            h = int(tok[1:])
    if not w or not h:
        raise ValueError("y4m missing W/H")
    frame_bytes = w * h  # Cmono: luma plane only
    pos, idx, out = nl + 1, 0, []
    marker = b"FRAME"
    while pos < len(content):
        fnl = content.index(b"\n", pos)
        if content[pos : pos + 5] != marker:
            raise ValueError("bad FRAME marker")
        pix_start = fnl + 1
        if pix_start + frame_bytes > len(content):
            raise ValueError("truncated y4m frame")
        if idx % stride == 0:
            plane = content[pix_start : pix_start + frame_bytes]
            out.append((idx, sum(plane) / frame_bytes / 255.0))
        pos = pix_start + frame_bytes
        idx += 1
    return w, h, idx, out


def sample_video_frames(df: DataFrame, stride: int = 2) -> DataFrame:
    """Frame-sampling decode stage: one output row per SAMPLED frame of
    every Y4M payload (Arrow mapInPandas; non-y4m rows yield a single
    format='unknown'/'corrupt' row with null frame fields)."""

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for mid, content in zip(pdf["media_id"], pdf["content"]):
                base = {"media_id": mid, "format": "unknown", "width": None,
                        "height": None, "n_frames": None, "frame_idx": None,
                        "luma_mean": None}
                try:
                    if content is not None and bytes(content[:9]) == b"YUV4MPEG2":
                        w, h, n, frames = _decode_y4m(bytes(content), stride)
                        for idx, mean in frames:
                            rows.append({**base, "format": "y4m", "width": w,
                                         "height": h, "n_frames": n,
                                         "frame_idx": idx, "luma_mean": mean})
                        continue
                except Exception:
                    base["format"] = "corrupt"
                rows.append(base)
            out = pd.DataFrame(rows, columns=[f.name for f in _FRAME_SCHEMA.fields])
            for c in ("width", "height", "n_frames", "frame_idx"):
                out[c] = out[c].astype("Int32")
            yield out

    return df.mapInPandas(kernel, schema=_FRAME_SCHEMA)


def synthetic_y4m(spark, n_rows: int) -> DataFrame:
    """REAL Cmono Y4M payloads, closed-form per id: video i has
    w=4+i%3, h=2+i%3, 6+i%5 frames; frame f is solid gray
    (i·5 + f·11) mod 256 — every decoded field is analytically known."""

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            recs = []
            for i in pdf["id"]:
                i = int(i)
                w, h, nf = 4 + i % 3, 2 + i % 3, 6 + i % 5
                buf = bytearray(f"YUV4MPEG2 W{w} H{h} F25:1 Cmono\n".encode())
                for f in range(nf):
                    buf += b"FRAME\n"
                    buf += bytes([(i * 5 + f * 11) % 256]) * (w * h)
                recs.append({
                    "media_id": f"v{i:09d}", "media_type": "video",
                    "content": bytes(buf), "mime": None, "width": None,
                    "height": None, "duration_ms": None,
                })
            out = pd.DataFrame(recs, columns=[f.name for f in MEDIA_SCHEMA.fields])
            for c in ("width", "height", "duration_ms"):
                out[c] = out[c].astype("Int32")
            yield out

    return spark.range(n_rows).mapInPandas(kernel, schema=MEDIA_SCHEMA)


def synthetic_png_media(spark, n_rows: int) -> DataFrame:
    """Rows of REAL PNG payloads, deterministically synthesized per id
    inside an Arrow kernel. Three variants by id % 3 — solid RGB,
    gradient RGBA, gradient grayscale — and every row cycles through the
    five scanline filters ((id + y) % 5), so decode exercises each
    unfilter branch while every channel mean stays a CLOSED FORM of the
    id (replayable in oracle SQL):

    - id%3==0: solid RGB (id%256, id*7%256, id*13%256)
    - id%3==1: RGBA, r = (id+17x)%256 (x-gradient), g = id*7%256 solid,
      b = (id+29y)%256 (y-gradient), alpha 255 (ignored by features)
    - id%3==2: grayscale v = (id+11x)%256 (x-gradient)
    """

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            recs = []
            for i in pdf["id"]:
                i = int(i)
                w, h = 4 + i % 5, 3 + i % 4
                filters = [(i + y) % 5 for y in range(h)]
                if i % 3 == 0:
                    px = bytes([i % 256, (i * 7) % 256, (i * 13) % 256]) * w
                    content = _encode_png(
                        w, h, [px] * h, color_type=2, row_filters=filters
                    )
                elif i % 3 == 1:
                    rows = []
                    for y in range(h):
                        row = bytearray()
                        for x in range(w):
                            row += bytes([
                                (i + 17 * x) % 256, (i * 7) % 256,
                                (i + 29 * y) % 256, 255,
                            ])
                        rows.append(bytes(row))
                    content = _encode_png(
                        w, h, rows, color_type=6, row_filters=filters
                    )
                else:
                    row = bytes((i + 11 * x) % 256 for x in range(w))
                    content = _encode_png(
                        w, h, [row] * h, color_type=0, row_filters=filters
                    )
                recs.append({
                    "media_id": f"p{i:09d}", "media_type": "image",
                    "content": content, "mime": "image/png", "width": None,
                    "height": None, "duration_ms": None,
                })
            out = pd.DataFrame(recs, columns=[f.name for f in MEDIA_SCHEMA.fields])
            for c in ("width", "height", "duration_ms"):
                out[c] = out[c].astype("Int32")
            yield out

    return spark.range(n_rows).mapInPandas(kernel, schema=MEDIA_SCHEMA)


def synthetic_au_media(spark, n_rows: int) -> DataFrame:
    """Rows of REAL Sun/NeXT .au payloads (8-bit G.711, mono 8 kHz),
    deterministically synthesized per id inside an Arrow kernel:
    sample byte j = (13·id + 7·j) % 256 — every G.711 code point is
    hit across the fixture set, so BOTH full expansion tables are
    oracle-gated: even ids are mu-law (encoding 1), odd ids are A-law
    (encoding 27). Header variants: annotation padding (data offset
    28) when id % 3 == 0, unknown-length sentinel (size 0xFFFFFFFF)
    when id % 7 == 0. n = 160 + (id % 5)·40 samples."""
    import struct

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            recs = []
            for i in pdf["id"]:
                i = int(i)
                n = 160 + (i % 5) * 40
                data = bytes((13 * i + 7 * j) % 256 for j in range(n))
                offset = 28 if i % 3 == 0 else 24
                size = 0xFFFFFFFF if i % 7 == 0 else n
                enc = 27 if i % 2 == 1 else 1
                content = (
                    b".snd"
                    + struct.pack(">IIIII", offset, size, enc, 8000, 1)
                    + b"\x00" * (offset - 24)
                    + data
                )
                recs.append({
                    "media_id": f"a{i:09d}", "media_type": "audio",
                    "content": content, "mime": "audio/basic", "width": None,
                    "height": None, "duration_ms": None,
                })
            out = pd.DataFrame(recs, columns=[f.name for f in MEDIA_SCHEMA.fields])
            for c in ("width", "height", "duration_ms"):
                out[c] = out[c].astype("Int32")
            yield out

    return spark.range(n_rows).mapInPandas(kernel, schema=MEDIA_SCHEMA)


def synthetic_mp4_media(spark, n_rows: int) -> DataFrame:
    """Rows of REAL minimal MP4 containers, deterministically
    synthesized per id: movie duration (id·37) % 100000 on timescale
    [600, 1000, 90000, 44100, 24][id % 5], video w = 16·(1 + id % 40),
    h = 16·(1 + id % 23), audio rate [8000, 16000, 22050, 44100,
    48000][id % 5] with 1 + id % 2 channels. Parser-branch variants:
    a second audio track when id % 6 == 0, mvhd version 1 (64-bit
    times) when id % 11 == 0, a 64-bit-size mdat when id % 9 == 0."""

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            recs = []
            for i in pdf["id"]:
                i = int(i)
                content = _encode_mp4(
                    duration=(i * 37) % 100000,
                    timescale=[600, 1000, 90000, 44100, 24][i % 5],
                    w=16 * (1 + i % 40), h=16 * (1 + i % 23),
                    rate=[8000, 16000, 22050, 44100, 48000][i % 5],
                    ch=1 + i % 2,
                    extra_audio=(i % 6 == 0), mvhd_v1=(i % 11 == 0),
                    mdat_bytes=(i % 50) * 3, largesize_mdat=(i % 9 == 0),
                )
                recs.append({
                    "media_id": f"v{i:09d}", "media_type": "video",
                    "content": content, "mime": "video/mp4", "width": None,
                    "height": None, "duration_ms": None,
                })
            out = pd.DataFrame(recs, columns=[f.name for f in MEDIA_SCHEMA.fields])
            for c in ("width", "height", "duration_ms"):
                out[c] = out[c].astype("Int32")
            yield out

    return spark.range(n_rows).mapInPandas(kernel, schema=MEDIA_SCHEMA)


def synthetic_mp3_media(spark, n_rows: int) -> DataFrame:
    """Rows of REAL MPEG1-Layer-III streams, deterministically
    synthesized per id: 3 + id % 7 zero-payload frames at bitrate index
    1 + id % 14 / sample-rate index id % 3, mono when id % 2 == 1,
    per-frame padding bit (id + j) % 2, ID3v2 prefix of id % 200 bytes
    when id % 4 == 0."""

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            recs = []
            for i in pdf["id"]:
                i = int(i)
                content = _encode_mp3(
                    frames=3 + i % 7, bidx=1 + i % 14, sidx=i % 3,
                    mono=(i % 2 == 1),
                    id3_size=(i % 200) if i % 4 == 0 else None,
                    pad_fn=lambda j, i=i: (i + j) % 2,
                )
                recs.append({
                    "media_id": f"z{i:09d}", "media_type": "audio",
                    "content": content, "mime": "audio/mpeg", "width": None,
                    "height": None, "duration_ms": None,
                })
            out = pd.DataFrame(recs, columns=[f.name for f in MEDIA_SCHEMA.fields])
            for c in ("width", "height", "duration_ms"):
                out[c] = out[c].astype("Int32")
            yield out

    return spark.range(n_rows).mapInPandas(kernel, schema=MEDIA_SCHEMA)


def synthetic_jpeg_media(spark, n_rows: int) -> DataFrame:
    """Rows of REAL baseline JPEG payloads, deterministically synthesized
    per id inside an Arrow kernel. Every 8×8 block is solid (DC-only), so
    the full encode→decode loop — quantizer rounding, the DC *diff*
    prediction chain across the MCU raster, Huffman coding, byte
    stuffing, restart-marker resets, 4:2:0 interleave and crop — is
    INTEGER-exact and replayable in oracle SQL (jpeg.decoded_solid_level
    is the closed form):

    - even id → grayscale, w = 6+id%11, h = 5+id%9 (partial edge blocks
      nearly always), block level (id + 37·bx + 53·by) % 256, restart
      interval 2 when id % 4 == 0;
    - odd id → YCbCr 4:2:0, w = 6+id%13, h = 5+id%11, luma block level
      (3·id + 41·bx + 59·by) % 256, neutral chroma (RGB == Y exactly),
      restart interval 3 when id % 8 == 7;
    - quantizer q0 = [3, 5, 8, 12, 16][id % 5].
    """
    from upgini_spark.functions.jpeg import (
        encode_jpeg_blockgrid_gray,
        encode_jpeg_blockgrid_gray420,
    )

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            recs = []
            for i in pdf["id"]:
                i = int(i)
                q0 = [3, 5, 8, 12, 16][i % 5]
                if i % 2 == 0:
                    w, h = 6 + i % 11, 5 + i % 9
                    content = encode_jpeg_blockgrid_gray(
                        w, h, lambda bx, by: (i + 37 * bx + 53 * by) % 256,
                        q0, dri=2 if i % 4 == 0 else 0,
                    )
                else:
                    w, h = 6 + i % 13, 5 + i % 11
                    content = encode_jpeg_blockgrid_gray420(
                        w, h,
                        lambda bx, by: (3 * i + 41 * bx + 59 * by) % 256,
                        q0, dri=3 if i % 8 == 7 else 0,
                    )
                recs.append({
                    "media_id": f"j{i:09d}", "media_type": "image",
                    "content": content, "mime": "image/jpeg", "width": None,
                    "height": None, "duration_ms": None,
                })
            out = pd.DataFrame(recs, columns=[f.name for f in MEDIA_SCHEMA.fields])
            for c in ("width", "height", "duration_ms"):
                out[c] = out[c].astype("Int32")
            yield out

    return spark.range(n_rows).mapInPandas(kernel, schema=MEDIA_SCHEMA)


def synthetic_gif_bmp_media(spark, n_rows: int) -> DataFrame:
    """Rows of REAL GIF and BMP payloads, deterministically synthesized
    per id inside an Arrow kernel; every channel mean is a CLOSED FORM of
    the id (replayable in oracle SQL):

    - even id → 24-bit BMP, w = 4+id%5, h = 3+id%4 (w·3 mod 4 varies, so
      row padding is exercised): r = (id+17x)%256 (x-gradient),
      g = (id·7)%256 solid, b = (id+29y)%256 (y-gradient);
    - odd id → single-frame GIF89a, w = 5+id%6, h = 4+id%5, 4-color
      palette c ∈ 0..3 = ((id+40c)%256, (id·3+50c)%256, (id·5+60c)%256),
      pixel index (x+y)%4 (diagonal stripes — the LZW stream mixes runs
      and transitions, so real compression paths execute).
    """

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            recs = []
            for i in pdf["id"]:
                i = int(i)
                if i % 2 == 0:
                    w, h = 4 + i % 5, 3 + i % 4
                    rows = []
                    for y in range(h):
                        row = bytearray()
                        for x in range(w):
                            row += bytes([
                                (i + 17 * x) % 256, (i * 7) % 256,
                                (i + 29 * y) % 256,
                            ])
                        rows.append(bytes(row))
                    content = _encode_bmp(w, h, rows)
                    mime = "image/bmp"
                else:
                    w, h = 5 + i % 6, 4 + i % 5
                    palette = [
                        ((i + 40 * c) % 256, (i * 3 + 50 * c) % 256,
                         (i * 5 + 60 * c) % 256)
                        for c in range(4)
                    ]
                    idx = [(x + y) % 4 for y in range(h) for x in range(w)]
                    content = _encode_gif(w, h, idx, palette)
                    mime = "image/gif"
                recs.append({
                    "media_id": f"g{i:09d}", "media_type": "image",
                    "content": content, "mime": mime, "width": None,
                    "height": None, "duration_ms": None,
                })
            out = pd.DataFrame(recs, columns=[f.name for f in MEDIA_SCHEMA.fields])
            for c in ("width", "height", "duration_ms"):
                out[c] = out[c].astype("Int32")
            yield out

    return spark.range(n_rows).mapInPandas(kernel, schema=MEDIA_SCHEMA)


# --------------------------------------------------------------------------
# Image resize (r4): nearest-neighbor over real P6 PPM payloads — the
# "resize" stage of the brief's decode / feature-extract / resize /
# frame-sample quartet, as a pure-Python Arrow kernel (no image libs).
# --------------------------------------------------------------------------


def _parse_ppm(content: bytes):
    """Byte-precise P6 header parse → (w, h, maxval, pixel bytes).

    Only 8-bit P6 is supported: maxval > 255 means 2 bytes/sample
    (big-endian) and a 1-byte slice would silently decode garbage, so
    such payloads raise and surface as format='corrupt' downstream."""
    if content[:2] != b"P6":
        raise ValueError("not a P6 ppm")
    pos, vals = 2, []
    while len(vals) < 3:
        while pos < len(content) and content[pos : pos + 1].isspace():
            pos += 1
        if content[pos : pos + 1] == b"#":
            while pos < len(content) and content[pos] != 0x0A:
                pos += 1
            continue
        start = pos
        while pos < len(content) and not content[pos : pos + 1].isspace():
            pos += 1
        vals.append(int(content[start:pos]))
    pos += 1
    w, h, maxval = vals
    if maxval > 255 or maxval <= 0:
        raise ValueError(f"unsupported P6 maxval {maxval} (8-bit only)")
    pixels = content[pos : pos + w * h * 3]
    if len(pixels) < w * h * 3:
        raise ValueError("truncated ppm")
    return w, h, maxval, pixels


def _resize_ppm_nn(content: bytes, tw: int, th: int) -> bytes:
    """Nearest-neighbor resize, src index = floor(dst · src/dst) (the
    classic integer NN map); emits a fresh P6 payload."""
    w, h, maxval, pixels = _parse_ppm(content)
    out = bytearray(f"P6\n{tw} {th}\n{maxval}\n".encode())
    for y in range(th):
        sy = y * h // th
        row = sy * w * 3
        for x in range(tw):
            sx = x * w // tw
            off = row + sx * 3
            out += pixels[off : off + 3]
    return bytes(out)


def resize_images(df: DataFrame, target_w: int, target_h: int) -> DataFrame:
    """Resize every P6 PPM payload to (target_w, target_h); rows whose
    payload isn't PPM pass through with content untouched and their
    original width/height metadata (same MEDIA_SCHEMA out — resize is a
    payload-preserving stage in the media pipeline)."""

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            recs = []
            for _, row in pdf.iterrows():
                rec = {c: row[c] for c in pdf.columns}
                content = row["content"]
                try:
                    if content is not None and bytes(content[:2]) == b"P6":
                        rec["content"] = _resize_ppm_nn(
                            bytes(content), target_w, target_h
                        )
                        rec["width"], rec["height"] = target_w, target_h
                except ValueError:
                    # sniffed as P6 but unparseable (truncated / 16-bit):
                    # keep the payload, null the geometry so the row is
                    # distinguishable from a deliberately skipped non-PPM
                    rec["width"] = rec["height"] = None
                recs.append(rec)
            out = pd.DataFrame(recs, columns=[f.name for f in MEDIA_SCHEMA.fields])
            for c in ("width", "height", "duration_ms"):
                out[c] = out[c].astype("Int32")
            yield out

    return df.mapInPandas(kernel, schema=MEDIA_SCHEMA)
