"""Multimodal operator tests: container format, decode plumbing, Arrow
batch shapes, the row-multiplying frame sampler, and the real-format stub
gate (mirrors the reference's fixture-style operator tests,
/root/reference/tests/test_transformer.py:257-309)."""

from __future__ import annotations

import hashlib

import pyspark.sql.functions as F
import pytest

from jira_scraper_etl_spark.operators import multimodal as MM


@pytest.fixture(scope="module")
def media(spark, sf_dir):
    d = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id").limit(60)
    return MM.attach_media(d).cache()


def test_container_layout(media):
    row = media.where(F.col("doc_id") == 5).first()  # 5 % 3 == 2 → video
    buf = bytes(row.content)
    assert buf[:4] == MM.MAGIC
    assert buf[4] == MM.VERSION
    assert buf[5] == MM.TYPE_CODES["video"]
    n_frames = buf[6]
    assert n_frames == 4 + 5 % 8
    assert len(buf) == 8 + n_frames * MM.FRAME_BYTES
    # frame 0 bytes are exactly md5("5:0")
    assert buf[8:24] == hashlib.md5(b"5:0").digest()


def test_decode_media_roundtrip(media):
    out = MM.decode_media(media)
    rows = {r.doc_id: r for r in out.collect()}
    assert rows[0].media_type == "image" and rows[0].n_frames == 1
    assert rows[1].media_type == "audio" and rows[1].n_frames == 3
    assert rows[2].media_type == "video" and rows[2].n_frames == 4 + 2 % 8
    for r in rows.values():
        assert r.content_len == 8 + r.n_frames * MM.FRAME_BYTES
        assert r.payload_len == r.content_len - 8


def test_media_features_match_numpy(media):
    import numpy as np

    feats = {r.doc_id: r for r in MM.media_features(media).collect()}
    raw = {r.doc_id: bytes(r.content) for r in media.collect()}
    for doc_id, buf in raw.items():
        payload = np.frombuffer(buf, dtype=np.uint8)[8:]
        r = feats[doc_id]
        assert r.n_bytes == payload.size
        assert r.byte_sum == int(payload.sum())
        assert r.h0 + r.h1 + r.h2 + r.h3 == r.n_bytes


def test_sample_frames_rows_and_bytes(media):
    out = MM.sample_frames(media, every=2).collect()
    assert out, "expected sampled video frames"
    for r in out:
        assert r.frame_idx % 2 == 0
        expected = hashlib.md5(f"{r.doc_id}:{r.frame_idx}".encode()).hexdigest()
        assert r.frame_hex == expected
    # only videos contribute
    assert all(r.doc_id % 3 == 2 for r in out)


def test_resize_plan_image_only(media):
    out = MM.resize_plan(media, 32, 32).collect()
    assert all(r.doc_id % 3 == 0 for r in out)
    for r in out:
        assert r.src_w == 8 * (2 + r.doc_id % 7)
        assert abs(r.scale_x - 32.0 / r.src_w) < 1e-12


def _make_png(width: int, height: int, bit_depth: int = 8,
              color_type: int = 2) -> bytes:
    """Build a real, spec-valid PNG byte string with stdlib only:
    signature + IHDR + IDAT (zlib-compressed scanlines) + IEND, each
    chunk carrying its correct CRC."""
    import struct
    import zlib

    def chunk(ctype: bytes, data: bytes) -> bytes:
        return (struct.pack(">I", len(data)) + ctype + data
                + struct.pack(">I", zlib.crc32(ctype + data) & 0xFFFFFFFF))

    ihdr = struct.pack(">IIBBBBB", width, height, bit_depth, color_type, 0, 0, 0)
    channels = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}[color_type]
    raw = b"".join(b"\x00" + bytes(width * channels) for _ in range(height))
    return (b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr)
            + chunk(b"IDAT", zlib.compress(raw)) + chunk(b"IEND", b""))


def _make_wav(n_samples: int, sample_rate: int = 44100, n_channels: int = 2,
              bits: int = 16) -> bytes:
    """Build a real RIFF/WAVE byte string: fmt + data chunks."""
    import struct

    block_align = n_channels * bits // 8
    data = bytes(n_samples * block_align)
    fmt = struct.pack("<HHIIHH", 1, n_channels, sample_rate,
                      sample_rate * block_align, block_align, bits)
    body = (b"WAVEfmt " + struct.pack("<I", len(fmt)) + fmt
            + b"data" + struct.pack("<I", len(data)) + data)
    return b"RIFF" + struct.pack("<I", len(body)) + body


def test_decode_png_real_bytes():
    meta = MM.decode_one(_make_png(640, 480))
    assert meta["format"] == "png" and meta["media_type"] == "image"
    assert (meta["width"], meta["height"]) == (640, 480)
    assert meta["bit_depth"] == 8 and meta["n_channels"] == 3
    assert meta["payload_len"] > 0  # IDAT compressed size

    gray = MM.decode_one(_make_png(10, 7, bit_depth=16, color_type=0))
    assert (gray["width"], gray["height"]) == (10, 7)
    assert gray["bit_depth"] == 16 and gray["n_channels"] == 1


def test_decode_png_crc_verified():
    buf = bytearray(_make_png(4, 4))
    buf[20] ^= 0xFF  # corrupt a byte inside IHDR without fixing the CRC
    with pytest.raises(ValueError, match="CRC"):
        MM.decode_one(bytes(buf))


def test_decode_wav_real_bytes():
    meta = MM.decode_one(_make_wav(44100, sample_rate=44100, n_channels=2, bits=16))
    assert meta["format"] == "wav" and meta["media_type"] == "audio"
    assert meta["sample_rate"] == 44100 and meta["n_channels"] == 2
    assert meta["bit_depth"] == 16
    assert meta["n_frames"] == 44100  # one second of sample frames
    assert meta["payload_len"] == 44100 * 4


def test_decode_media_mixed_real_and_fake(spark, media):
    """A DataFrame mixing FAKE containers with real PNG/WAV bytes decodes
    per-row by magic — the Arrow plumbing is format-agnostic."""
    real = spark.createDataFrame(
        [(100001, bytearray(_make_png(320, 200))),
         (100002, bytearray(_make_wav(8000, sample_rate=8000, n_channels=1)))],
        "doc_id long, content binary")
    out = {r.doc_id: r for r in
           MM.decode_media(media.select("doc_id", "content").limit(3)
                           .unionByName(real)).collect()}
    assert out[100001].format == "png" and out[100001].width == 320
    assert out[100002].format == "wav" and out[100002].sample_rate == 8000
    assert out[0].format == "fake" and out[0].width is None


def _make_jpeg(width: int, height: int, n_components: int = 3,
               precision: int = 8, progressive: bool = False) -> bytes:
    """Spec-valid (for header parsing) JPEG: SOI, JFIF APP0, SOF0/SOF2,
    SOS, a few entropy bytes, EOI."""
    import struct as S

    app0 = b"\xff\xe0" + S.pack(">H", 16) + b"JFIF\x00\x01\x02\x00\x00\x01\x00\x01\x00\x00"
    comps = b"".join(S.pack(">BBB", i + 1, 0x11, 0) for i in range(n_components))
    sof_marker = b"\xff\xc2" if progressive else b"\xff\xc0"
    sof = sof_marker + S.pack(">H", 8 + 3 * n_components) + \
        S.pack(">BHHB", precision, height, width, n_components) + comps
    scan = b"".join(S.pack(">BB", i + 1, 0) for i in range(n_components))
    sos = b"\xff\xda" + S.pack(">H", 6 + 2 * n_components) + \
        bytes([n_components]) + scan + b"\x00\x3f\x00"
    return b"\xff\xd8" + app0 + sof + sos + b"\x12\x34\x56\x78" + b"\xff\xd9"


def test_decode_jpeg_real_bytes():
    meta = MM.decode_one(_make_jpeg(640, 480))
    assert meta["format"] == "jpeg" and meta["media_type"] == "image"
    assert meta["width"] == 640 and meta["height"] == 480
    assert meta["n_channels"] == 3 and meta["bit_depth"] == 8
    assert meta["payload_len"] == 4  # entropy bytes between SOS and EOI

    prog = MM.decode_one(_make_jpeg(17, 9, n_components=1, progressive=True))
    assert prog["width"] == 17 and prog["height"] == 9 and prog["n_channels"] == 1


def test_decode_jpeg_rejects_missing_sof():
    # truncated APP0-only stream: parseable markers but no frame header
    with pytest.raises(ValueError, match="SOF"):
        MM.decode_one(b"\xff\xd8\xff\xe0\x00\x04\x00\x00\xff\xd9")


def _box(btype: bytes, body: bytes) -> bytes:
    import struct as S

    return S.pack(">I", 8 + len(body)) + btype + body


def _make_mp4(width: int, height: int, timescale: int = 1000,
              duration: int = 7500, payload: bytes = b"\xab" * 32) -> bytes:
    """Spec-sized minimal ISO-BMFF file: ftyp + moov(mvhd v0, trak(tkhd
    v0)) + mdat."""
    import struct as S

    ftyp = _box(b"ftyp", b"isom" + S.pack(">I", 0x200))
    mvhd = _box(b"mvhd", b"\x00\x00\x00\x00"          # version 0, flags
                + S.pack(">IIII", 0, 0, timescale, duration)
                + S.pack(">I", 0x00010000) + S.pack(">H", 0x0100)
                + b"\x00" * 10
                + S.pack(">9I", 0x10000, 0, 0, 0, 0x10000, 0, 0, 0, 0x40000000)
                + b"\x00" * 24 + S.pack(">I", 2))
    tkhd = _box(b"tkhd", b"\x00\x00\x00\x07"
                + S.pack(">IIIII", 0, 0, 1, 0, duration)
                + b"\x00" * 8 + b"\x00" * 8
                + S.pack(">9I", 0x10000, 0, 0, 0, 0x10000, 0, 0, 0, 0x40000000)
                + S.pack(">II", width << 16, height << 16))
    moov = _box(b"moov", mvhd + _box(b"trak", tkhd))
    return ftyp + moov + _box(b"mdat", payload)


def test_decode_mp4_real_bytes():
    meta = MM.decode_one(_make_mp4(1280, 720, timescale=1000, duration=7500))
    assert meta["format"] == "mp4" and meta["media_type"] == "video"
    assert meta["width"] == 1280 and meta["height"] == 720
    assert meta["n_frames"] == 7  # floor(7500 / 1000) one-second ticks
    assert meta["sample_rate"] == 1000 and meta["payload_len"] == 32


def test_decode_mp4_rejects_missing_moov():
    with pytest.raises(ValueError, match="moov"):
        MM.decode_one(b"\x00\x00\x00\x10ftypisom\x00\x00\x02\x00")


def test_decode_jpeg_skips_fill_bytes():
    """ITU T.81 B.1.1.2 allows repeated 0xFF padding before any marker;
    a padded stream must still reach the SOF header."""
    plain = _make_jpeg(640, 480)
    # inject fill bytes before the SOF0 marker (FF C0 -> FF FF FF C0)
    padded = plain.replace(b"\xff\xc0", b"\xff\xff\xff\xc0", 1)
    meta = MM.decode_one(padded)
    assert meta["width"] == 640 and meta["height"] == 480


def _tkhd_body(width: int, height: int, duration: int) -> bytes:
    import struct as S

    return (b"\x00\x00\x00\x07"
            + S.pack(">IIIII", 0, 0, 1, 0, duration)
            + b"\x00" * 8 + b"\x00" * 8
            + S.pack(">9I", 0x10000, 0, 0, 0, 0x10000, 0, 0, 0, 0x40000000)
            + S.pack(">II", width << 16, height << 16))


def test_decode_mp4_audio_first_track_order():
    """Audio-first files put a zero-dim tkhd in the first trak; the
    video trak's dims must still be found (advisor-verified bug)."""
    import struct as S

    ftyp = _box(b"ftyp", b"isom" + S.pack(">I", 0x200))
    mvhd = _box(b"mvhd", b"\x00\x00\x00\x00"
                + S.pack(">IIII", 0, 0, 1000, 7500)
                + S.pack(">I", 0x00010000) + S.pack(">H", 0x0100)
                + b"\x00" * 10
                + S.pack(">9I", 0x10000, 0, 0, 0, 0x10000, 0, 0, 0, 0x40000000)
                + b"\x00" * 24 + S.pack(">I", 3))
    audio = _box(b"trak", _box(b"tkhd", _tkhd_body(0, 0, 7500)))
    video = _box(b"trak", _box(b"tkhd", _tkhd_body(1920, 1080, 7500)))
    moov = _box(b"moov", mvhd + audio + video)
    meta = MM.decode_one(ftyp + moov + _box(b"mdat", b"\xab" * 8))
    assert meta["width"] == 1920 and meta["height"] == 1080


def test_decode_mp4_rejects_degenerate_largesize():
    """A size==1 box whose 64-bit largesize is < 16 can't cover its own
    header — must error, not yield a negative-length body."""
    import struct as S

    bad = S.pack(">I", 1) + b"moov" + S.pack(">Q", 12)
    with pytest.raises(ValueError, match="largesize"):
        MM.decode_one(b"\x00\x00\x00\x10ftypisom\x00\x00\x02\x00" + bad)


def _make_avi(width: int, height: int, n_frames: int = 90,
              usec_per_frame: int = 33333, n_streams: int = 1,
              payload: bytes = b"\xcd" * 24) -> bytes:
    import struct as S

    def chunk(cid: bytes, body: bytes) -> bytes:
        return cid + S.pack("<I", len(body)) + body + (b"\x00" * (len(body) & 1))

    avih = chunk(b"avih", S.pack(
        "<10I", usec_per_frame, 0, 0, 0, n_frames, 0, n_streams, 0,
        width, height) + b"\x00" * 16)
    hdrl = chunk(b"LIST", b"hdrl" + avih)
    movi = chunk(b"LIST", b"movi" + chunk(b"00dc", payload))
    body = b"AVI " + hdrl + movi
    return b"RIFF" + S.pack("<I", len(body)) + body


def test_decode_avi_real_bytes():
    meta = MM.decode_one(_make_avi(720, 480, n_frames=90))
    assert meta["format"] == "avi" and meta["media_type"] == "video"
    assert meta["width"] == 720 and meta["height"] == 480
    assert meta["n_frames"] == 90 and meta["n_channels"] == 1
    assert meta["sample_rate"] == 30  # round(1e6 / 33333)
    assert meta["payload_len"] == 32  # movi list body minus the 4-byte type


def test_decode_avi_rejects_missing_avih():
    with pytest.raises(ValueError, match="avih"):
        MM.decode_one(b"RIFF\x00\x00\x00\x04AVI ")
    with pytest.raises(ValueError):
        MM.decode_one(b"NOPE" + b"\x00" * 16)


def test_decode_jpeg_truncated_in_padding_raises_valueerror():
    """A stream ending inside 0xFF fill bytes must fail with the
    module's ValueError contract, not a raw struct.error."""
    with pytest.raises(ValueError, match="truncated JPEG"):
        MM.decode_one(b"\xff\xd8\xff\xff\xff\xfe\x00")


# ---------------------------------------------------------------------------
# Payload decode (round-9 verdict #9): PPM/BMP pixel + PCM-WAV sample paths
# ---------------------------------------------------------------------------

def _make_bmp(w, h, pixels_rgb, top_down=False):
    """Build a real 24-bit BI_RGB BMP: pixels_rgb is row-major
    top-to-bottom [(r,g,b)...]; storage is BGR, rows padded to 4
    bytes, bottom-up unless top_down."""
    import struct

    stride = (w * 3 + 3) & ~3
    rows = [pixels_rgb[r * w:(r + 1) * w] for r in range(h)]
    order = rows if top_down else rows[::-1]
    raster = b"".join(
        b"".join(bytes((b, g, r)) for r, g, b in row)
        + b"\x00" * (stride - w * 3) for row in order)
    header = (b"BM" + struct.pack("<IHHI", 54 + len(raster), 0, 0, 54)
              + struct.pack("<IiiHHIIiiII", 40, w, -h if top_down else h,
                            1, 24, 0, len(raster), 2835, 2835, 0, 0))
    return header + raster


def test_bmp_pixel_decode_exact():
    pix = [(10, 20, 30), (40, 50, 60), (70, 80, 90),
           (1, 2, 3), (4, 5, 6), (250, 0, 128)]
    for top_down in (False, True):
        d = MM.decode_bmp_pixels(_make_bmp(3, 2, pix, top_down))
        assert (d["width"], d["height"], d["n_pixels"]) == (3, 2, 6)
        assert d["r_sum"] == sum(p[0] for p in pix)
        assert d["g_sum"] == sum(p[1] for p in pix)
        assert d["b_sum"] == sum(p[2] for p in pix)
        assert d["px_min"] == 0 and d["px_max"] == 250


def test_bmp_rejects_compressed():
    import struct

    buf = (b"BM" + struct.pack("<IHHI", 54, 0, 0, 54)
           + struct.pack("<IiiHHIIiiII", 40, 1, 1, 1, 24, 1, 0,
                         0, 0, 0, 0))
    with pytest.raises(ValueError):
        MM.decode_bmp_pixels(buf)


def test_pixel_stats_dispatches_bmp_and_ppm(spark):
    """The mapInPandas pass sniffs magic per row: a mixed BMP/PPM
    frame decodes both, with identical stats schema."""
    pix = [(9, 8, 7), (6, 5, 4)]
    ppm = b"P6\n# c\n2 1\n255\n" + bytes((9, 8, 7, 6, 5, 4))
    rows = [(1, _make_bmp(2, 1, pix)), (2, ppm)]
    df = spark.createDataFrame(rows, "doc_id long, content binary")
    got = {r.doc_id: r for r in MM.pixel_stats(df).collect()}
    assert got[1].format == "bmp" and got[2].format == "ppm"
    for r in got.values():
        assert (r.r_sum, r.g_sum, r.b_sum) == (15, 13, 11)
        assert (r.px_min, r.px_max, r.n_pixels) == (4, 9, 2)


def test_wav_sample_decode_exact():
    import struct

    samples = [0, -1, 32767, -32768, 1234, -4321]
    data = struct.pack(f"<{len(samples)}h", *samples)
    wav = (b"RIFF" + struct.pack("<I", 36 + len(data)) + b"WAVEfmt "
           + struct.pack("<IHHIIHH", 16, 1, 1, 16000, 32000, 2, 16)
           + b"data" + struct.pack("<I", len(data)) + data)
    d = MM.decode_wav_samples(wav)
    assert d["n_samples"] == 6
    assert d["sample_sum"] == sum(samples)
    assert d["sample_sqsum"] == sum(s * s for s in samples)
    assert (d["sample_min"], d["sample_max"]) == (-32768, 32767)


def test_wav_sample_stats_matches_python_decode(spark):
    """The Spark pass over attach_pcm_wav rows returns exactly what
    decode_wav_samples gives per row in Python (every sample count
    8..16 appears across the 40 ids)."""
    d = spark.range(0, 40, numPartitions=3).select(
        F.col("id").alias("doc_id"))
    wav = MM.attach_pcm_wav(d)
    cols = [f.name for f in MM.SAMPLES_SCHEMA.fields if f.name != "doc_id"]
    got = {r.doc_id: r.asDict() for r in MM.wav_sample_stats(wav).collect()}
    want = {}
    for r in wav.collect():
        s = MM.decode_wav_samples(bytes(r.content))
        want[r.doc_id] = {"doc_id": r.doc_id, **{c: s[c] for c in cols}}
    assert len(want) == 40 and got == want


def test_png_pixel_roundtrip_every_filter_type():
    """encode_png → decode_png_pixels is the identity on the raster,
    for each single filter type AND a mixed per-row sequence — the
    unfilter pass (Sub/Up/Average floor/Paeth tie-breaks) reconstructs
    every byte exactly. Deterministic pseudo-random raster via md5."""
    w, h = 7, 6
    raster = MM._digest_raster("pngtest", 42, w * h * 3)
    for spec in [lambda r: 0, lambda r: 1, lambda r: 2, lambda r: 3,
                 lambda r: 4, lambda r: r % 5, lambda r: (r + 3) % 5]:
        d = MM.decode_png_pixels(MM.encode_png(w, h, raster, spec))
        assert (d["width"], d["height"]) == (w, h)
        assert d["r_sum"] == sum(raster[0::3])
        assert d["g_sum"] == sum(raster[1::3])
        assert d["b_sum"] == sum(raster[2::3])
        assert d["px_min"] == min(raster) and d["px_max"] == max(raster)


def test_png_paeth_tie_breaks():
    """Paeth prefers left, then up, then upper-left on ties (spec
    §9.4) — pin the predictor directly on the tie cases."""
    assert MM._png_paeth(5, 5, 5) == 5          # all zero distances → a
    assert MM._png_paeth(10, 10, 0) == 10       # pa == pb tie → a
    assert MM._png_paeth(0, 3, 1) == 3          # pb == pc tie → b
    assert MM._png_paeth(3, 0, 0) == 3          # pa == 0 wins outright


def test_png_pixel_decode_rejects_unsupported_profiles():
    """Grayscale / 16-bit / interlaced PNGs raise instead of
    mis-decoding, like the BMP/WAV/PPM guards."""
    import struct
    import zlib

    def make(bit_depth, color_type, interlace):
        ihdr = struct.pack(">IIBBBBB", 1, 1, bit_depth, color_type,
                           0, 0, interlace)
        def chunk(t, d):
            return (struct.pack(">I", len(d)) + t + d
                    + struct.pack(">I", zlib.crc32(t + d) & 0xFFFFFFFF))
        n = {0: 1, 2: 3, 4: 2, 6: 4}[color_type] * (bit_depth // 8 or 1)
        idat = zlib.compress(b"\x00" + b"\x01" * n)
        return (MM.PNG_SIGNATURE + chunk(b"IHDR", ihdr)
                + chunk(b"IDAT", idat) + chunk(b"IEND", b""))

    for bad in [make(8, 0, 0), make(16, 2, 0), make(8, 2, 1)]:
        with pytest.raises(ValueError):
            MM.decode_png_pixels(bad)
    # and a raster-length mismatch (valid header, short IDAT)
    import struct as _s
    import zlib as _z
    ihdr = _s.pack(">IIBBBBB", 2, 2, 8, 2, 0, 0, 0)
    def chunk(t, d):
        return (_s.pack(">I", len(d)) + t + d
                + _s.pack(">I", _z.crc32(t + d) & 0xFFFFFFFF))
    short = (MM.PNG_SIGNATURE + chunk(b"IHDR", ihdr)
             + chunk(b"IDAT", _z.compress(b"\x00" + bytes(6)))
             + chunk(b"IEND", b""))
    with pytest.raises(ValueError):
        MM.decode_png_pixels(short)


def test_ppm_rejects_wide_maxval():
    """maxval > 255 means 2-byte samples (P6 spec) — decoding them as
    1-byte would silently halve the raster, so the guard raises."""
    buf = b"P6\n2 1\n65535\n" + bytes(12)
    with pytest.raises(ValueError):
        MM.decode_ppm_pixels(buf)


def test_pixel_stats_dispatches_png(spark):
    """A PNG row in the same frame as BMP/PPM dispatches on the PNG
    signature and yields identical stats for identical pixels."""
    raster = bytes((9, 8, 7, 6, 5, 4))
    rows = [(1, MM.encode_png(2, 1, raster)),
            (2, b"P6\n2 1\n255\n" + raster)]
    df = spark.createDataFrame(rows, "doc_id long, content binary")
    got = {r.doc_id: r for r in MM.pixel_stats(df).collect()}
    assert got[1].format == "png" and got[2].format == "ppm"
    for r in got.values():
        assert (r.r_sum, r.g_sum, r.b_sum) == (15, 13, 11)


def test_attach_png_matches_digest_raster(spark):
    """attach_png's compressed payload decodes back to exactly the
    md5-digest raster the oracle replays."""
    df = spark.createDataFrame([(7,), (12,)], "doc_id long")
    got = {r.doc_id: bytes(r.content)
           for r in MM.attach_png(df).collect()}
    for doc_id, buf in got.items():
        w, h = doc_id % 5 + 4, doc_id % 4 + 3
        expect = MM._digest_raster("pg", doc_id, w * h * 3)
        d = MM.decode_png_pixels(buf)
        assert d["r_sum"] == sum(expect[0::3])
        assert d["b_sum"] == sum(expect[2::3])


def test_jpeg_roundtrip_recovers_exact_coefficients():
    """The entropy decode must be lossless: Huffman + DC prediction +
    EXTEND + de-zigzag recover EXACTLY the quantized coefficients the
    encoder was given, for every fixture shape (dense DC swings, sparse
    AC, long zero runs)."""
    from jira_scraper_etl_spark.operators import multimodal as MM

    for doc in range(64):
        coefs = MM.jpeg_coefs_for_doc(doc)
        d = MM.decode_jpeg_pixels(MM.encode_baseline_jpeg(16, 8, coefs))
        assert d["coef_sum"] == sum(sum(b) for b in coefs), doc
        assert d["n_nonzero_coefs"] == sum(
            1 for b in coefs for c in b if c), doc
        assert d["width"] == 16 and d["height"] == 8


def test_jpeg_integer_idct_tracks_independent_float_idct():
    """Exactness vs an INDEPENDENT decoder (round-12 verdict #8 done-
    criterion): a separately written float IDCT — numpy cosine basis
    built from scratch, float accumulation, plain round() — must agree
    with the engine's scaled-integer IDCT within 1 pixel level on
    every fixture block (the integer basis is quantized to 13 bits, so
    sub-level disagreement is expected; a transform/indexing bug shows
    up as large divergence)."""
    import numpy as np

    from jira_scraper_etl_spark.operators import multimodal as MM

    # independent basis: textbook IDCT-II, no shared code with IDCT_A
    A = np.array([[(np.sqrt(1 / 8) if u == 0 else 0.5)
                   * np.cos((2 * x + 1) * u * np.pi / 16)
                   for u in range(8)] for x in range(8)])

    for doc in range(32):
        for blk in MM.jpeg_coefs_for_doc(doc):
            deq = np.array([blk[i] * MM.JPEG_QTABLE[i]
                            for i in range(64)]).reshape(8, 8)
            want = np.clip(np.round(A @ deq @ A.T) + 128, 0, 255)
            got = np.array(MM.idct_block_int(
                [int(v) for v in deq.flatten()])).reshape(8, 8)
            assert np.abs(got - want).max() <= 1, doc


def test_jpeg_fixture_corpus_exercises_stuffing_zrl_and_prediction():
    """The fixture corpus must actually hit the hard decode paths:
    0xFF byte stuffing inside a scan, ZRL symbols (zero runs past 15),
    EOB-terminated blocks, and a non-zero DC prediction step in the
    second block."""
    from jira_scraper_etl_spark.operators import multimodal as MM

    saw_stuff = saw_zrl = saw_eob = saw_dc_step = False
    for doc in range(256):
        coefs = MM.jpeg_coefs_for_doc(doc)
        buf = MM.encode_baseline_jpeg(16, 8, coefs)
        scan = buf[buf.index(b"\xff\xda") + 2:-2]
        saw_stuff = saw_stuff or b"\xff\x00" in scan
        for blk in coefs:
            zz = [blk[MM.ZIGZAG[i]] for i in range(64)]
            nz = [i for i in range(1, 64) if zz[i]]
            gaps = [b - a - 1 for a, b in zip([0] + nz, nz)]
            saw_zrl = saw_zrl or any(g > 15 for g in gaps)
            saw_eob = saw_eob or (not nz) or nz[-1] < 63
        saw_dc_step = saw_dc_step or coefs[0][0] != coefs[1][0]
    assert saw_stuff and saw_zrl and saw_eob and saw_dc_step


def test_jpeg_header_and_pixel_decoders_agree(spark, sf_dir):
    """The metadata walker (decode_jpeg) and the payload decoder
    (decode_jpeg_pixels) must report identical dimensions over the
    attached fixture column, and the Spark-side stats entry must be
    internally consistent (bounds, pixel-count arithmetic)."""
    from jira_scraper_etl_spark import plans

    rows = plans.QUERIES["mm_jpeg_pixel_stats"].fn(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert r.format == "jpeg"
        assert r.n_pixels == r.width * r.height == 128
        assert 0 <= r.px_min <= r.px_max <= 255
        assert r.px_min * 128 <= r.px_sum <= r.px_max * 128
        assert 0 <= r.n_nonzero_coefs <= 128


def test_jpeg_codec_fuzz_roundtrip_property():
    """Property fuzz (hypothesis): for ARBITRARY quantized-coefficient
    blocks within the Huffman tables' representable range — any DC
    swing within ±1023 (category ≤ 10), any AC pattern incl. all-zero
    blocks, maximal runs, and values at category boundaries — encode →
    decode recovers the exact coefficients and the pixel stats are
    internally consistent. This is the decode surface's correctness
    envelope, far beyond the digest fixtures' value distribution."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from jira_scraper_etl_spark.operators import multimodal as MM

    coef = st.integers(min_value=-255, max_value=255)
    sparse_block = st.lists(
        st.tuples(st.integers(0, 63), coef), min_size=0, max_size=12
    ).map(lambda pairs: [dict(pairs).get(i, 0) for i in range(64)])

    @given(st.lists(sparse_block, min_size=1, max_size=4),
           st.integers(min_value=-1023, max_value=1023))
    @settings(max_examples=150, deadline=None)
    def check(blocks, dc0):
        blocks = [list(b) for b in blocks]
        blocks[0][0] = dc0  # exercise big DC categories + predictions
        w = 8 * len(blocks)
        buf = MM.encode_baseline_jpeg(w, 8, blocks)
        d = MM.decode_jpeg_pixels(buf, return_coefs=True)
        assert d["coefs"] == blocks  # EXACT per-position recovery
        assert d["coef_sum"] == sum(sum(b) for b in blocks)
        assert d["n_nonzero_coefs"] == sum(1 for b in blocks for c in b if c)
        assert d["width"] == w and d["n_pixels"] == w * 8
        assert 0 <= d["px_min"] <= d["px_max"] <= 255

    check()


def test_jpeg_batch_decode_bit_identical_to_per_image():
    """decode_jpeg_pixels_batch (round-14: one cross-image IDCT per
    Arrow batch + memoized Huffman LUTs) must return byte-for-byte the
    same stats dicts as the per-image decode_jpeg_pixels, over a
    corpus slice AND over engineered shapes (empty batch, single
    image, mixed widths)."""
    from jira_scraper_etl_spark.operators import multimodal as MM

    bufs = [MM.encode_baseline_jpeg(16, 8, MM.jpeg_coefs_for_doc(d))
            for d in range(200)]
    # mixed widths: 1..4 blocks per image
    import random
    rng = random.Random(11)
    for n in (1, 2, 3, 4):
        blocks = [[rng.randint(-200, 200) if rng.random() < 0.2 else 0
                   for _ in range(64)] for _ in range(n)]
        bufs.append(MM.encode_baseline_jpeg(8 * n, 8, blocks))
    assert MM.decode_jpeg_pixels_batch(bufs) == [
        MM.decode_jpeg_pixels(b) for b in bufs]
    assert MM.decode_jpeg_pixels_batch([]) == []
    assert MM.decode_jpeg_pixels_batch(bufs[:1]) == [
        MM.decode_jpeg_pixels(bufs[0])]
    # malformed images fail with the same ValueError on both paths,
    # alone or inside a batch: a frame below 8 px has no 8x8 block,
    # and a DC table with a category above 15 is rejected at decode
    no_block = MM.encode_baseline_jpeg(0, 8, [])
    dc_vals = bytes(MM.JPEG_DC_BITS) + bytes(MM.JPEG_DC_VALS)
    wide_dc = bufs[0].replace(dc_vals, dc_vals[:-1] + bytes([16]))
    for bad, why in ((no_block, "no 8x8 block"), (wide_dc, "DC category")):
        with pytest.raises(ValueError, match=why):
            MM.decode_jpeg_pixels(bad)
        for batch in ([bad], [bad, bad], [bufs[0], bad]):
            with pytest.raises(ValueError, match=why):
                MM.decode_jpeg_pixels_batch(batch)


def test_jpeg_batched_idct_bit_identical_to_scalar_spec():
    """_idct_blocks_np must equal idct_block_int element-for-element —
    int64 numpy contractions are exact, so any divergence is an
    index-orientation or rounding bug, not arithmetic."""
    import random

    import numpy as np

    from jira_scraper_etl_spark.operators import multimodal as MM

    rng = random.Random(7)
    blocks = [[rng.randint(-255, 255) if rng.random() < 0.3 else 0
               for _ in range(64)] for _ in range(16)]
    got = MM._idct_blocks_np(blocks)
    for b, blk in enumerate(blocks):
        want = MM.idct_block_int(blk)
        assert list(got[b].flatten()) == want, b
