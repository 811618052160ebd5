"""Unit tests for the multimodal binary-column pipeline."""

from __future__ import annotations

import pytest


def test_fake_feature_extract_deterministic():
    from eeecs485_p4_mapreduce_spark.operators.multimodal import fake_feature_extract

    payload = bytes(range(256)) * 2
    hist = fake_feature_extract(payload)
    assert len(hist) == 8
    assert sum(hist) == 512
    assert hist == fake_feature_extract(payload)


def test_decode_stubs_raise():
    from eeecs485_p4_mapreduce_spark.operators import multimodal as mm

    with pytest.raises(NotImplementedError):
        mm.decode_image(b"II*\x00TIFF....")  # no TIFF codec: declared stub
    with pytest.raises(NotImplementedError):
        mm.decode_audio(b"\xff\xfbMP3")  # compressed audio: declared stub
    # RIFF/BMP/PNG/GIF/JPEG all dispatch to the REAL decoders, which
    # raise ValueError (not the stub error) on malformed payloads.
    with pytest.raises(ValueError):
        mm.decode_audio(b"RIFF")
    with pytest.raises(ValueError):
        mm.decode_image(b"BM")
    with pytest.raises(ValueError):
        mm.decode_image(mm.PNG_SIG)  # PNG sig with no chunks
    with pytest.raises(ValueError):
        mm.decode_image(b"GIF89a")  # truncated GIF
    with pytest.raises(ValueError):
        mm.decode_image(b"\xff\xd8\xff\xe0JF")  # truncated JPEG


def test_extract_features_roundtrip(spark, sf_dir):
    from eeecs485_p4_mapreduce_spark.operators.multimodal import (
        FEATURE_SCHEMA,
        documents_as_media,
        extract_features,
    )

    media = documents_as_media(spark, sf_dir).limit(20)
    feats = extract_features(media)
    assert feats.schema == FEATURE_SCHEMA
    rows = feats.collect()
    assert len(rows) == 20
    for r in rows:
        assert r.n_bytes == sum(r.byte_histogram)
        assert len(r.head_hex) == 8  # 4 bytes hex-encoded


def test_media_schema_binary(spark, sf_dir):
    from eeecs485_p4_mapreduce_spark.operators.multimodal import documents_as_media

    media = documents_as_media(spark, sf_dir)
    assert dict(media.dtypes)["payload"] == "binary"


def test_frame_energy_matches_reference(spark, sf_dir):
    """mapInPandas energy must equal a pure-Python recompute from the
    source text bytes, including tail-frame and empty-payload handling."""
    from eeecs485_p4_mapreduce_spark.catalog import load_table
    from eeecs485_p4_mapreduce_spark.operators.multimodal import (
        ENERGY_FRAME_BYTES,
        mm_audio_energy,
    )

    got = {
        r.media_id: (r.n_frames, r.total_energy, r.max_frame_energy)
        for r in mm_audio_energy(spark, sf_dir).collect()
    }
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text").collect()
    assert len(got) == len(docs)
    for row in docs[:50]:
        b = row.text.encode("utf-8")
        frames = [
            sum((x - 128) ** 2 for x in b[i : i + ENERGY_FRAME_BYTES])
            for i in range(0, len(b), ENERGY_FRAME_BYTES)
        ]
        want = (len(frames), sum(frames), max(frames) if frames else 0)
        assert got[row.doc_id] == want


def test_scene_cuts_matches_reference(spark, sf_dir):
    """The distributed scene-cut pass must equal the pure-Python reference
    on every document payload, and flagged cuts must exceed the 1.5x-mean
    threshold by construction."""
    from eeecs485_p4_mapreduce_spark.operators.multimodal import (
        documents_as_media,
        mm_scene_cuts,
        scene_cuts,
    )

    got = {
        r.media_id: (
            r.n_frames,
            r.n_cuts,
            r.max_diff_energy,
            [int(x) for x in r.cuts_csv.split(",")] if r.cuts_csv else [],
        )
        for r in mm_scene_cuts(spark, sf_dir).collect()
    }
    payloads = {
        r.media_id: bytes(r.payload)
        for r in documents_as_media(spark, sf_dir).select("media_id", "payload").collect()
    }
    assert set(got) == set(payloads)
    for mid, payload in payloads.items():
        n_frames, cuts, max_diff = scene_cuts(payload)
        assert got[mid] == (n_frames, len(cuts), max_diff, cuts)
    assert any(r[1] > 0 for r in got.values()), "expected at least one cut"


def test_format_sniff_detects_magic_bytes(spark, tmp_path):
    """mm_format_sniff must classify constructed PNG/JPEG/RIFF/GIF/PDF
    payloads by their real magic bytes (the sf corpus is all text, so
    the positive paths need constructed media)."""
    from pyspark.sql import Row

    from eeecs485_p4_mapreduce_spark.operators.multimodal import sniff_formats

    payloads = {
        "png": b"\x89PNG\r\n\x1a\n" + b"x" * 20,
        "jpeg": b"\xff\xd8\xff\xe0" + b"x" * 20,
        "riff": b"RIFFxxxxWAVE" + b"x" * 20,
        "gif": b"GIF89a" + b"x" * 20,
        "pdf": b"%PDF-1.7\n" + b"x" * 20,
        "unknown/text": b"plain old text payload",
    }
    media = spark.createDataFrame(
        [Row(media_id=i, payload=p) for i, p in enumerate(payloads.values())]
    )
    got = {r.fmt: r.n_media for r in sniff_formats(media).collect()}
    for fmt in payloads:
        assert got.get(fmt) == 1, (fmt, got)


# Canonical real-world fixture bytes (public, spec-mandated layouts):
# the ubiquitous 1x1 RGBA PNG (the base64 data-URI pixel that ships in
# countless test suites) and 1x1 GIF89a — NOT built by our own builder,
# so they ground parse_image_header AND decode_png_pixels in reality
# rather than a round-trip. Every chunk CRC32 in the PNG verifies, and
# its IDAT inflates to one Sub-filtered RGBA pixel (0, 0, 255, 127).
import base64 as _b64

_REAL_PNG_1x1 = _b64.b64decode(
    "iVBORw0KGgoAAAANSUhEUgAAAAEAAAABCAYAAAAfFcSJ"
    "AAAADUlEQVR42mNkYPhfDwAChwGA60e6kgAAAABJRU5ErkJggg=="
)
# The canonical 42-byte "spacer.gif": GIF89a, 2-entry global table
# (black, white), a graphic-control extension the parser must skip, and
# a 1-byte LZW stream (clear + index 0) — the previous hex here was
# one GCT byte short (hand-invented; only its width/height were ever
# parsed before the pixel decoder existed).
_REAL_GIF_1x1 = _b64.b64decode(
    "R0lGODlhAQABAIAAAAAAAP///yH5BAEAAAAALAAAAAABAAEAAAIBRAA7"
)


def test_parse_image_header_real_fixtures():
    from eeecs485_p4_mapreduce_spark.operators.multimodal import (
        parse_image_header,
    )

    assert parse_image_header(_REAL_PNG_1x1) == ("png", 1, 1)
    assert parse_image_header(_REAL_GIF_1x1) == ("gif", 1, 1)
    # JPEG: spec-structured stream where SOF0 sits behind APP0 + DQT +
    # COM segments the parser must skip via their length fields
    # (ITU-T T.81 table B.1 marker walk).
    dqt = b"\xff\xdb" + (67).to_bytes(2, "big") + b"\x00" + bytes(64)
    jpeg = (
        b"\xff\xd8"
        + b"\xff\xe0" + (16).to_bytes(2, "big") + b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00"
        + dqt
        + b"\xff\xfe" + (9).to_bytes(2, "big") + b"comment"
        + b"\xff\xc0" + (11).to_bytes(2, "big") + b"\x08" + (480).to_bytes(2, "big")
        + (640).to_bytes(2, "big") + b"\x01\x11\x00"
        + b"\xff\xd9"
    )
    assert parse_image_header(jpeg) == ("jpeg", 640, 480)
    # Progressive JPEG uses SOF2 — same frame header layout.
    assert parse_image_header(jpeg.replace(b"\xff\xc0", b"\xff\xc2")) == (
        "jpeg",
        640,
        480,
    )
    # Malformed inputs are data, not exceptions.
    assert parse_image_header(b"") is None
    assert parse_image_header(b"\xff\xd8\xff") is None
    assert parse_image_header(b"not an image at all....") is None
    # Truncated marker stream (no SOF before bytes run out).
    assert parse_image_header(b"\xff\xd8\xff\xe0\x00\x10" + bytes(20)) is None


def test_build_parse_roundtrip_all_formats():
    from eeecs485_p4_mapreduce_spark.operators.multimodal import (
        build_image_payload,
        parse_image_header,
    )

    for fmt in ("jpeg", "png", "gif", "bmp"):
        for w, h in ((1, 1), (640, 480), (16, 65535 if fmt != "gif" else 65535)):
            payload = build_image_payload(fmt, w, h)
            assert parse_image_header(payload) == (fmt, w, h), (fmt, w, h)
    # BMP top-down rows encode height negative; parser reports magnitude.
    from eeecs485_p4_mapreduce_spark.operators.multimodal import (
        parse_image_header as p,
    )
    bmp = bytearray(build_image_payload("bmp", 10, 20))
    bmp[22:26] = (-20).to_bytes(4, "little", signed=True)
    assert p(bytes(bmp)) == ("bmp", 10, 20)


def test_mm_image_dimensions_runs(spark, sf_dir):
    from eeecs485_p4_mapreduce_spark.operators.multimodal import (
        mm_image_dimensions,
    )

    out = mm_image_dimensions(spark, sf_dir)
    rows = out.collect()
    assert rows and all(r.fmt is not None for r in rows)
    assert all(16 <= r.width <= 16 + 316 and 16 <= r.height <= 16 + 210 for r in rows)


def test_bmp_codec_canonical_fixture():
    """Pin encode_bmp/decode_bmp_pixels against a hand-built canonical
    2x2 24-bpp BMP assembled field-by-field from the spec (54-byte
    header, BGR triples, rows padded to 4 bytes, bottom-up order)."""
    import numpy as np

    from eeecs485_p4_mapreduce_spark.operators.multimodal import (
        decode_bmp_pixels,
        encode_bmp,
    )

    pixels = np.array(
        [
            [[255, 0, 0], [0, 255, 0]],  # top row: red, green
            [[0, 0, 255], [255, 255, 255]],  # bottom row: blue, white
        ],
        dtype=np.uint8,
    )
    canonical = (
        b"BM"
        + (70).to_bytes(4, "little")  # 54 header + 2 rows * 8B stride
        + bytes(4)
        + (54).to_bytes(4, "little")  # pixel-data offset
        + (40).to_bytes(4, "little")  # BITMAPINFOHEADER size
        + (2).to_bytes(4, "little", signed=True)  # width
        + (2).to_bytes(4, "little", signed=True)  # height (bottom-up)
        + (1).to_bytes(2, "little")  # planes
        + (24).to_bytes(2, "little")  # bpp
        + (0).to_bytes(4, "little")  # BI_RGB
        + (16).to_bytes(4, "little")  # image size
        + bytes(16)  # resolutions + palette counts
        # bottom row first, BGR, 2 pad bytes per row:
        + bytes([255, 0, 0, 255, 255, 255, 0, 0])  # blue, white
        + bytes([0, 0, 255, 0, 255, 0, 0, 0])  # red, green
    )
    assert encode_bmp(pixels) == canonical
    assert np.array_equal(decode_bmp_pixels(canonical), pixels)


def test_bmp_decode_topdown_and_offset_variants():
    """The decoder must honor the header's pixel-data offset (gap bytes
    between DIB and pixels) and the negative-height top-down row order —
    both legal layouts real files use."""
    import numpy as np

    from eeecs485_p4_mapreduce_spark.operators.multimodal import (
        decode_bmp_pixels,
        encode_bmp,
    )

    rng = np.random.default_rng(485)
    px = rng.integers(0, 256, size=(5, 3, 3), dtype=np.uint8)
    base = encode_bmp(px)

    # Top-down variant: negate height, un-flip stored rows.
    stride = (3 * 3 + 3) & ~3
    rows = [base[54 + i * stride : 54 + (i + 1) * stride] for i in range(5)]
    td = bytearray(base[:54] + b"".join(reversed(rows)))
    td[22:26] = (-5).to_bytes(4, "little", signed=True)
    assert np.array_equal(decode_bmp_pixels(bytes(td)), px)

    # Offset variant: 8 gap bytes between header and pixel data.
    off = bytearray(base[:54] + b"\xaa" * 8 + base[54:])
    off[2:6] = (len(off)).to_bytes(4, "little")
    off[10:14] = (62).to_bytes(4, "little")
    assert np.array_equal(decode_bmp_pixels(bytes(off)), px)

    # Unsupported layouts are explicit errors, not wrong pixels.
    bad_bpp = bytearray(base)
    bad_bpp[28:30] = (8).to_bytes(2, "little")
    with pytest.raises(ValueError):
        decode_bmp_pixels(bytes(bad_bpp))
    with pytest.raises(ValueError):
        decode_bmp_pixels(base[:40])  # truncated


def test_resize_pixels_nearest_neighbor():
    import numpy as np

    from eeecs485_p4_mapreduce_spark.operators.multimodal import (
        resize_pixels,
    )

    # 4x4 ramp downsampled 2x: target (x,y) reads source (2x, 2y).
    y, x = np.mgrid[0:4, 0:4]
    px = np.stack([x * 10 + y, x, y], axis=-1).astype(np.uint8)
    small = resize_pixels(px, 2, 2)
    assert small.shape == (2, 2, 3)
    assert [int(v) for v in small[0, 0]] == [0, 0, 0]
    assert [int(v) for v in small[0, 1]] == [20, 2, 0]
    assert [int(v) for v in small[1, 1]] == [22, 2, 2]
    # Upsample replicates neighbors: both halves read the same source col.
    big = resize_pixels(px[:1, :2], 4, 1)
    assert [int(v[0]) for v in big[0]] == [0, 0, 10, 10]


def test_resize_image_real_for_bmp():
    """resize_image (the declared resize slot) is REAL for BMP: decode →
    nearest-neighbor → re-encode, verified pixel-for-pixel; compressed
    formats still raise the declared stub error."""
    import numpy as np

    from eeecs485_p4_mapreduce_spark.operators import multimodal as mm

    rng = np.random.default_rng(99)
    px = rng.integers(0, 256, size=(6, 4, 3), dtype=np.uint8)
    out = mm.resize_image(mm.encode_bmp(px), 2, 3)
    assert np.array_equal(
        mm.decode_bmp_pixels(out), mm.resize_pixels(px, 2, 3)
    )
    with pytest.raises(NotImplementedError):
        mm.resize_image(b"\x89PNG....", 2, 2)


def test_mm_bmp_thumbnail_matches_arithmetic(spark, sf_dir):
    """The registered query's channel sums (computed from DECODED bytes)
    must equal the direct arithmetic over the nearest-neighbor source
    coordinates — the same formula the DuckDB oracle runs."""
    from eeecs485_p4_mapreduce_spark.operators.multimodal import (
        mm_bmp_thumbnail,
    )

    rows = mm_bmp_thumbnail(spark, sf_dir).collect()
    assert rows
    for r in rows[:25]:
        d, w, h = r.media_id, r.src_w, r.src_h
        assert w == 16 + (d * 5) % 48 and h == 16 + (d * 3) % 32
        exp = [0, 0, 0]
        for ty in range(8):
            for tx in range(8):
                sx, sy = tx * w // 8, ty * h // 8
                exp[0] += (11 * sx + sy + 3 * d) % 256
                exp[1] += (3 * sx + 5 * sy + 2 * d) % 256
                exp[2] += (7 * sx + 13 * sy + d) % 256
        assert [r.sum_r, r.sum_g, r.sum_b] == exp, d


def test_wav_codec_canonical_fixture():
    """Pin encode_wav/decode_wav_samples against a hand-built canonical
    4-sample PCM-16 WAV assembled field-by-field from the RIFF spec,
    including the interposed LIST chunk the encoder emits."""
    import numpy as np

    from eeecs485_p4_mapreduce_spark.operators.multimodal import (
        decode_wav_samples,
        encode_wav,
    )

    samples = np.array([0, 1000, -1000, 32767], dtype="<i2")
    fmt = (
        b"fmt "
        + (16).to_bytes(4, "little")
        + (1).to_bytes(2, "little")
        + (1).to_bytes(2, "little")
        + (8000).to_bytes(4, "little")
        + (16000).to_bytes(4, "little")
        + (2).to_bytes(2, "little")
        + (16).to_bytes(2, "little")
    )
    info = b"INFOISFT" + (6).to_bytes(4, "little") + b"p4sgn\x00"
    lst = b"LIST" + (18).to_bytes(4, "little") + info
    data = b"data" + (8).to_bytes(4, "little") + samples.tobytes()
    body = b"WAVE" + fmt + lst + data
    canonical = b"RIFF" + len(body).to_bytes(4, "little") + body
    assert encode_wav(samples, 8000) == canonical
    rate, got = decode_wav_samples(canonical)
    assert rate == 8000
    assert np.array_equal(got, samples)


def test_wav_decode_chunk_walk_and_errors():
    import numpy as np

    from eeecs485_p4_mapreduce_spark.operators import multimodal as mm

    rng = np.random.default_rng(485)
    samples = rng.integers(-32768, 32768, size=37, dtype=np.int64).astype(
        "<i2"
    )
    wav = mm.encode_wav(samples, 16000)
    # Odd-sized data chunk gets a pad byte; decoder must not read it as
    # a half sample.
    rate, got = mm.decode_wav_samples(wav)
    assert rate == 16000 and np.array_equal(got, samples)
    # decode_audio dispatches RIFF to the real path...
    rate2, got2 = mm.decode_audio(wav)
    assert rate2 == 16000 and np.array_equal(got2, samples)
    # ...and still declares the stub for compressed codecs.
    with pytest.raises(NotImplementedError):
        mm.decode_audio(b"\xff\xfbMP3FRAME....")
    # Unsupported layouts are explicit errors.
    stereo = bytearray(wav)
    fmt_off = wav.index(b"fmt ") + 8
    stereo[fmt_off + 2 : fmt_off + 4] = (2).to_bytes(2, "little")
    with pytest.raises(ValueError):
        mm.decode_wav_samples(bytes(stereo))
    with pytest.raises(ValueError):
        mm.decode_wav_samples(b"RIFF\x04\x00\x00\x00JUNK")
    with pytest.raises(ValueError):
        mm.decode_wav_samples(b"OggS" + bytes(40))


def test_mm_wav_energy_matches_arithmetic(spark, sf_dir):
    """The registered query's stats (computed from DECODED samples) must
    equal direct arithmetic over the synthesis formula — the same
    formula the DuckDB oracle runs."""
    from eeecs485_p4_mapreduce_spark.operators.multimodal import (
        mm_wav_energy,
    )

    rows = mm_wav_energy(spark, sf_dir).collect()
    assert rows
    for r in rows[:25]:
        d = r.media_id
        n = 64 + (d * 7) % 192
        vals = [(d * 31 + 13 * i * i) % 65536 - 32768 for i in range(n)]
        assert r.sample_rate == 8000 + (d % 4) * 4000
        assert r.n_samples == n
        assert r.sum_sq == sum(v * v for v in vals)
        assert r.max_abs == max(abs(v) for v in vals)


def test_mm_audio_vad_segments(spark, sf_dir):
    """VAD output invariants against direct arithmetic: frame counts from
    the synth length, active frames follow the (frame + doc_id) % 3
    schedule (tail frames can fall below threshold only if short), and
    segment stats are a run-length encoding of the active mask."""
    from eeecs485_p4_mapreduce_spark.operators.multimodal import (
        VAD_FRAME,
        VAD_THRESHOLD,
        mm_audio_vad,
    )

    rows = mm_audio_vad(spark, sf_dir).collect()
    assert rows
    for r in rows[:20]:
        d = r.media_id
        n = 64 + (d * 7) % 192
        n_frames = (n + VAD_FRAME - 1) // VAD_FRAME
        assert r.n_frames == n_frames
        active = []
        for f in range(n_frames):
            e = 0
            for i in range(f * VAD_FRAME, min(n, (f + 1) * VAD_FRAME)):
                v = (
                    (d * 31 + 13 * i * i) % 65536 - 32768
                    if (i // VAD_FRAME + d) % 3 == 0
                    else (d * 7 + i) % 256 - 128
                )
                e += v * v
            active.append(e > VAD_THRESHOLD)
        runs, cur = [], 0
        for a in active:
            cur = cur + 1 if a else (runs.append(cur) or 0 if cur else 0)
        if cur:
            runs.append(cur)
        assert r.n_active == sum(active)
        assert r.n_segments == len(runs)
        assert r.longest_segment == (max(runs) if runs else 0)


def test_png_codec_roundtrip_all_filters():
    """encode → decode identity for every PNG filter type (and a per-row
    mix), RGB and greyscale: proves each scanline unfilter (Sub/Up/
    Average/Paeth) is the true inverse on non-trivial gradients."""
    import numpy as np

    from eeecs485_p4_mapreduce_spark.operators.multimodal import (
        decode_png_pixels,
        encode_png,
    )

    h, w = 7, 11
    yy, xx = np.mgrid[0:h, 0:w]
    rgb = np.stack(
        [(3 * xx + 7 * yy) % 256, (13 * xx + yy * yy) % 256,
         (xx * xx + 5 * yy) % 256],
        axis=-1,
    ).astype(np.uint8)
    grey = ((11 * xx + 17 * yy) % 256).astype(np.uint8)
    for ft in [0, 1, 2, 3, 4, [i % 5 for i in range(h)]]:
        assert np.array_equal(decode_png_pixels(encode_png(rgb, ft)), rgb), ft
        assert np.array_equal(
            decode_png_pixels(encode_png(grey, ft)), grey
        ), ft


def test_png_decode_spec_built_fixture():
    """Decode a PNG assembled BY HAND from the RFC 2083 spec (chunks,
    filter bytes, and pixel layout written out literally — NOT via
    encode_png), so the decoder is validated against the format, not
    against our own encoder's conventions. 2x2 RGB, row 0 filter None,
    row 1 filter Up."""
    import zlib

    import numpy as np

    from eeecs485_p4_mapreduce_spark.operators.multimodal import (
        decode_png_pixels,
    )

    def chunk(tag, body):
        return (
            len(body).to_bytes(4, "big") + tag + body
            + zlib.crc32(tag + body).to_bytes(4, "big")
        )

    # pixels: row0 = (255,0,0), (0,255,0); row1 = (0,0,255), (255,255,0)
    row0 = bytes([0, 255, 0, 0, 0, 255, 0])  # filter 0 + raw RGB
    # filter 2 (Up): stored = raw - prior  (mod 256)
    raw1 = [0, 0, 255, 255, 255, 0]
    prior = [255, 0, 0, 0, 255, 0]
    row1 = bytes([2] + [(r - p) % 256 for r, p in zip(raw1, prior)])
    ihdr = (
        (2).to_bytes(4, "big") + (2).to_bytes(4, "big")
        + bytes([8, 2, 0, 0, 0])
    )
    payload = (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(row0 + row1))
        + chunk(b"IEND", b"")
    )
    px = decode_png_pixels(payload)
    expected = np.array(
        [[[255, 0, 0], [0, 255, 0]], [[0, 0, 255], [255, 255, 0]]],
        dtype=np.uint8,
    )
    assert np.array_equal(px, expected)


def test_png_decode_rejects_corruption_and_unsupported():
    import numpy as np
    import pytest as _pytest

    from eeecs485_p4_mapreduce_spark.operators.multimodal import (
        decode_png_pixels,
        encode_png,
    )

    px = np.arange(24, dtype=np.uint8).reshape(2, 4, 3)
    good = encode_png(px)
    # flip one IDAT byte -> CRC mismatch must be detected, not decoded
    bad = bytearray(good)
    idat_at = good.index(b"IDAT")
    bad[idat_at + 6] ^= 0xFF
    with _pytest.raises(ValueError, match="CRC"):
        decode_png_pixels(bytes(bad))
    # 16-bit depth declared in IHDR -> unsupported subset must raise
    deep = bytearray(good)
    ihdr_at = good.index(b"IHDR")
    deep[ihdr_at + 12] = 16  # bit depth byte
    import zlib as _z
    body = bytes(deep[ihdr_at + 4:ihdr_at + 17])
    deep[ihdr_at + 17:ihdr_at + 21] = _z.crc32(
        bytes(deep[ihdr_at:ihdr_at + 4]) + body
    ).to_bytes(4, "big")
    with _pytest.raises(ValueError):
        decode_png_pixels(bytes(deep))


def test_png_decode_real_world_fixture():
    """Decode the genuine in-the-wild 1x1 PNG (the canonical data-URI
    pixel bytes also used to ground parse_image_header) — produced by a
    real encoder, never by ours: color type 6 (RGBA), Sub-filtered,
    pixel value (0, 0, 255, 127)."""
    from eeecs485_p4_mapreduce_spark.operators.multimodal import (
        decode_png_pixels,
    )

    px = decode_png_pixels(_REAL_PNG_1x1)
    assert px.shape == (1, 1, 4)
    assert [int(v) for v in px[0, 0]] == [0, 0, 255, 127]


def test_gif_decode_real_world_fixture():
    """Decode the genuine 1x1 GIF89a fixture (real-world bytes, not our
    encoder's): global table [black, white], LZW stream selecting
    index 0 — one black pixel."""
    import numpy as np

    from eeecs485_p4_mapreduce_spark.operators.multimodal import (
        decode_gif_pixels,
    )

    px = decode_gif_pixels(_REAL_GIF_1x1)
    assert px.shape == (1, 1, 3)
    assert [int(v) for v in px[0, 0]] == [0, 0, 0]


def test_gif_codec_roundtrip_with_table_growth():
    """encode_gif → decode_gif_pixels identity on images large enough to
    force several LZW code-width bumps and (for the 120x120 case) the
    4096-entry table reset — the sequential-coding paths a 1x1 fixture
    never touches. Also covers the interlaced row order."""
    import numpy as np

    from eeecs485_p4_mapreduce_spark.operators.multimodal import (
        decode_gif_pixels,
        encode_gif,
    )

    palette16 = [(17 * i, 255 - 13 * i, (7 * i) % 256) for i in range(16)]
    rng = np.random.default_rng(42)
    for h, w, interlace in [(9, 13, False), (32, 40, False),
                            (120, 120, False), (24, 17, True)]:
        idx = rng.integers(0, 16, size=(h, w), dtype=np.uint8)
        payload = encode_gif(idx, palette16, interlace=interlace)
        px = decode_gif_pixels(payload)
        want = np.array(palette16, dtype=np.uint8)[idx]
        assert np.array_equal(px, want), (h, w, interlace)
    # 2-color palette exercises the min_code=2 floor GIF mandates
    bw = rng.integers(0, 2, size=(11, 7), dtype=np.uint8)
    px = decode_gif_pixels(encode_gif(bw, [(0, 0, 0), (255, 255, 255)]))
    assert np.array_equal(px[:, :, 0], bw * 255)


def test_gif_decode_kwkwk_case():
    """The LZW KwKwK corner (a code referencing the still-pending table
    slot) arises from runs like aaaa...; prove it decodes."""
    import numpy as np

    from eeecs485_p4_mapreduce_spark.operators.multimodal import (
        decode_gif_pixels,
        encode_gif,
    )

    idx = np.zeros((4, 16), dtype=np.uint8)  # one long run of index 0
    px = decode_gif_pixels(encode_gif(idx, [(9, 8, 7), (1, 2, 3)]))
    assert (px == [9, 8, 7]).all()


def test_gif_decode_rejects_corruption():
    import numpy as np
    import pytest as _pytest

    from eeecs485_p4_mapreduce_spark.operators.multimodal import (
        decode_gif_pixels,
        encode_gif,
    )

    good = encode_gif(
        np.arange(12, dtype=np.uint8).reshape(3, 4) % 4,
        [(0, 0, 0), (85, 85, 85), (170, 170, 170), (255, 255, 255)],
    )
    with _pytest.raises(ValueError):
        decode_gif_pixels(b"GIF89a")  # truncated header
    with _pytest.raises(ValueError):
        decode_gif_pixels(good[:20])  # truncated mid-stream
    noimg = good[:13 + 12] + b"\x3b"  # LSD + GCT, then trailer: no frame
    with _pytest.raises(ValueError):
        decode_gif_pixels(noimg)


def test_jpeg_codec_roundtrip_near_lossless():
    """encode_jpeg(quant=1) → decode_jpeg_pixels must reconstruct within
    a tight arithmetic bound (JPEG is lossy; flat-1 quantization leaves
    only DCT/rounding error), for RGB and greyscale, with non-multiple-
    of-8 dimensions exercising edge-block padding."""
    import numpy as np

    from eeecs485_p4_mapreduce_spark.operators.multimodal import (
        decode_jpeg_pixels,
        encode_jpeg,
    )

    rng = np.random.default_rng(7)
    h, w = 21, 19
    yy, xx = np.mgrid[0:h, 0:w]
    grad = np.stack(
        [(xx * 10) % 256, (yy * 9) % 256, ((xx + yy) * 5) % 256], -1
    ).astype(np.uint8)
    noise = rng.integers(0, 256, (16, 24, 3), dtype=np.uint8)
    grey = rng.integers(0, 256, (11, 13), dtype=np.uint8)
    for img, tol in [(grad, 3), (noise, 3), (grey, 2)]:
        dec = decode_jpeg_pixels(encode_jpeg(img, quant=1))
        assert dec.shape == img.shape
        assert int(np.abs(dec.astype(int) - img.astype(int)).max()) <= tol
    # coarser quantization still decodes, with bounded degradation
    dec = decode_jpeg_pixels(encode_jpeg(grad, quant=8))
    assert int(np.abs(dec.astype(int) - grad.astype(int)).max()) <= 48


def test_jpeg_encoder_interops_with_header_parser():
    """Cross-validation between two independent implementations in this
    module: parse_image_header's T.81 marker walk (written rounds ago
    against spec fixtures) must read the dimensions out of
    encode_jpeg's output."""
    import numpy as np

    from eeecs485_p4_mapreduce_spark.operators.multimodal import (
        encode_jpeg,
        parse_image_header,
    )

    img = np.zeros((17, 23, 3), dtype=np.uint8)
    assert parse_image_header(encode_jpeg(img)) == ("jpeg", 23, 17)


def test_jpeg_decode_rejects_unsupported_subset():
    import numpy as np
    import pytest as _pytest

    from eeecs485_p4_mapreduce_spark.operators.multimodal import (
        decode_jpeg_pixels,
        encode_jpeg,
    )

    good = encode_jpeg(np.zeros((8, 8, 3), dtype=np.uint8))
    # progressive: flip SOF0 marker to SOF2
    prog = good.replace(b"\xff\xc0", b"\xff\xc2", 1)
    with _pytest.raises(ValueError, match="baseline"):
        decode_jpeg_pixels(prog)
    # sampling factors beyond 2 per axis (e.g. 4:1:1's 4x1) stay outside
    # the supported subset; 1-2 per axis (4:4:4/4:2:2/4:2:0) now decode
    sof_at = good.index(b"\xff\xc0")
    sub = bytearray(good)
    sub[sof_at + 11] = 0x41  # first component h<<4|v = 4x1
    with _pytest.raises(ValueError, match="sampling factors"):
        decode_jpeg_pixels(bytes(sub))
    with _pytest.raises(ValueError):
        decode_jpeg_pixels(good[:40])  # truncated


def test_g711_expansion_known_values_and_involution():
    """G.711 spot values from the standard's segment arithmetic (u-law
    0x00/-32124, 0x80/+32124, 0xFF/0; A-law 0x55/-8, 0xD5/+8,
    0xAA/+32256) and the value-level involution decode(encode(decode))
    == decode over all 256 codes for both laws."""
    from eeecs485_p4_mapreduce_spark.operators.multimodal import (
        alaw_to_linear,
        g711_decode,
        g711_encode,
        ulaw_to_linear,
    )

    assert ulaw_to_linear(0x00) == -32124
    assert ulaw_to_linear(0x80) == 32124
    assert ulaw_to_linear(0xFF) == 0
    assert alaw_to_linear(0x55) == -8
    assert alaw_to_linear(0xD5) == 8
    assert alaw_to_linear(0xAA) == 32256
    for law, fn in (("ulaw", ulaw_to_linear), ("alaw", alaw_to_linear)):
        values = [fn(b) for b in range(256)]
        redone = g711_decode(g711_encode(values, law), law)
        assert [int(v) for v in redone] == values, law


def test_wav_g711_codecs_roundtrip():
    """RIFF/WAVE fmt 7 (u-law) and fmt 6 (A-law) decode end-to-end:
    chunk walk reads the codec from the fmt tag and expands to int16.
    Companding is lossy — error bounded by half the widest quantizer
    step (512) except in the clip region above the top code (u-law max
    32124, so int16 inputs near 32767 err by up to 643) — and must
    match the direct table path exactly."""
    import numpy as np

    from eeecs485_p4_mapreduce_spark.operators.multimodal import (
        decode_audio,
        decode_wav_samples,
        encode_wav,
        g711_decode,
        g711_encode,
    )

    rng = np.random.default_rng(3)
    s = rng.integers(-32768, 32768, 500, dtype=np.int16)
    for codec in ("ulaw", "alaw"):
        rate, got = decode_wav_samples(encode_wav(s, 8000, codec=codec))
        assert rate == 8000
        want = g711_decode(g711_encode(s, codec), codec)
        assert np.array_equal(got, want)
        assert int(np.abs(got.astype(int) - s.astype(int)).max()) <= 643
        # the generic dispatcher takes the same path
        rate2, got2 = decode_audio(encode_wav(s, 8000, codec=codec))
        assert rate2 == 8000 and np.array_equal(got2, got)
    # PCM stays bit-exact
    _, pcm = decode_wav_samples(encode_wav(s, 8000))
    assert np.array_equal(pcm, s)


def test_codec_mutation_fuzz_only_valueerror():
    """Structure-aware robustness fuzz over all five real codecs: every
    single-byte corruption (xor 0xFF/0x01/0x80 at every offset) and every
    truncation of a valid payload must either decode or raise ValueError —
    never IndexError/OverflowError, and never hang. Mutations reach deep
    parser states random garbage can't (Huffman tables, LZW code widths,
    dimension fields). This sweep originally found four real defects: an
    unvalidated GIF LZW minimum code size (1 << 255-entry table = a
    decompression bomb), truncated-DHT IndexErrors, a corrupt DC size
    category overflowing the int64 coefficient array, and a 2-component
    scan indexing past the YCbCr stack."""
    import signal

    import numpy as np

    from eeecs485_p4_mapreduce_spark.operators import multimodal as mm

    rng = np.random.RandomState(42)
    px = rng.randint(0, 256, (6, 5, 3)).astype("uint8")
    pal = [(i, 255 - i, i // 2) for i in range(0, 256, 16)]
    idx = rng.randint(0, len(pal), (6, 5)).astype("uint8")
    samples = rng.randint(-3000, 3000, 64).astype("int16")
    px420 = rng.randint(0, 256, (18, 19, 3)).astype("uint8")
    codecs = {
        "bmp": (mm.encode_bmp(px), mm.decode_bmp_pixels),
        "png": (mm.encode_png(px, 2), mm.decode_png_pixels),
        "gif": (mm.encode_gif(idx, pal), mm.decode_gif_pixels),
        "jpeg": (mm.encode_jpeg(px), mm.decode_jpeg_pixels),
        # subsampled + restart-interval layout exercises the interleaved
        # MCU decode loop and the RST-marker reader
        "jpeg420": (
            mm.encode_jpeg(px420, subsampling="420", restart_interval=2),
            mm.decode_jpeg_pixels,
        ),
        # palette + Adam7 exercises PLTE/tRNS handling and the per-pass
        # sub-image defilter
        "png_pal_adam7": (
            mm.encode_png(
                idx,
                2,
                interlace=True,
                palette=pal,
                trans=bytes(range(len(pal))),
            ),
            mm.decode_png_pixels,
        ),
        "wav": (mm.encode_wav(samples, 8000), mm.decode_wav_samples),
        # AVI container: RIFF LIST nesting + per-frame JPEG decode
        "avi": (
            mm.encode_avi_mjpeg(
                [mm.encode_jpeg(px, quant=1), mm.encode_jpeg(px, quant=1)],
                5, 6, 40000,
            ),
            lambda p: mm.decode_avi_frames(p),
        ),
        # multi-frame animation exercises the GCE parser and compositor
        "gif_anim": (
            mm.encode_gif_animation(
                [idx, idx[:3, :4]],
                pal,
                delays=[5, 5],
                disposals=[1, 2],
                transparent=[None, 3],
                offsets=[(0, 0), (1, 1)],
            ),
            lambda p: mm.decode_gif_frames(p),
        ),
    }

    class _Hang(Exception):
        pass

    def _alarm(signum, frame):
        raise _Hang()

    old = signal.signal(signal.SIGALRM, _alarm)
    bad: list[tuple] = []
    try:
        for name, (base, dec) in codecs.items():
            mutants = [
                bytes(b)
                for pos in range(len(base))
                for b in [
                    bytes(base[:pos]) + bytes([base[pos] ^ x]) + base[pos + 1:]
                    for x in (0xFF, 0x01, 0x80)
                ]
            ] + [base[:cut] for cut in range(len(base))]
            for m in mutants:
                signal.setitimer(signal.ITIMER_REAL, 5.0)
                try:
                    dec(m)
                except ValueError:
                    pass
                except _Hang:
                    bad.append((name, "hang"))
                except Exception as e:  # noqa: BLE001 — the point of the test
                    bad.append((name, type(e).__name__, str(e)[:50]))
                finally:
                    signal.setitimer(signal.ITIMER_REAL, 0)
    finally:
        signal.signal(signal.SIGALRM, old)
    assert not bad, f"non-ValueError escapes: {bad[:10]} (total {len(bad)})"


def test_decoders_reject_bomb_dimensions():
    """Dimension fields claiming absurd sizes must fail fast in ValueError
    BEFORE any result-plane allocation (a flipped bit in a JPEG SOF asks
    for a ~30 GB zero plane otherwise)."""
    import time

    import numpy as np

    from eeecs485_p4_mapreduce_spark.operators import multimodal as mm

    px = np.zeros((2, 2, 3), dtype=np.uint8)
    bombs = []
    # BMP: width dword at offset 18
    b = bytearray(mm.encode_bmp(px))
    b[18:22] = (2**31 - 1).to_bytes(4, "little")
    bombs.append((mm.decode_bmp_pixels, bytes(b)))
    # PNG: IHDR width at offset 16 (CRC is not re-checked before dims)
    p = bytearray(mm.encode_png(px))
    p[16:20] = (2**31 - 1).to_bytes(4, "big")
    bombs.append((mm.decode_png_pixels, bytes(p)))
    # GIF: image-descriptor width (header 13 + GCT 6 + flag/coords 5)
    g = bytearray(mm.encode_gif(np.zeros((2, 2), dtype=np.uint8), [(0, 0, 0)]))
    g[13 + 6 + 5:13 + 6 + 7] = (0xFFFF).to_bytes(2, "little")
    g[13 + 6 + 7:13 + 6 + 9] = (0xFFFF).to_bytes(2, "little")
    bombs.append((mm.decode_gif_pixels, bytes(g)))
    # JPEG: SOF0 height bytes
    j = bytearray(mm.encode_jpeg(px))
    sof = j.find(b"\xff\xc0")
    j[sof + 5:sof + 7] = (0xFFFF).to_bytes(2, "big")
    j[sof + 7:sof + 9] = (0xFFFF).to_bytes(2, "big")
    bombs.append((mm.decode_jpeg_pixels, bytes(j)))
    for dec, payload in bombs:
        t0 = time.time()
        with pytest.raises(ValueError):
            dec(payload)
        assert time.time() - t0 < 1.0, f"{dec.__name__} did not fail fast"


def test_jpeg_subsampling_and_restart_roundtrip():
    """4:2:2 / 4:2:0 interleaved-MCU layouts and DRI/RSTn restart
    intervals — the shapes real camera JPEGs use. Smooth-chroma images
    survive chroma subsampling EXACTLY (box-downsample + replicate of a
    constant is the identity, and quant=1 DCT is near-lossless), restart
    markers must never change decoded pixels, and odd dimensions
    exercise the partial-MCU edge blocks."""
    import numpy as np

    from eeecs485_p4_mapreduce_spark.operators import multimodal as mm

    rng = np.random.RandomState(7)
    # luma gradient over constant per-channel chroma offsets
    smooth = np.clip(
        np.add.outer(np.arange(23) * 3, np.arange(17) * 5)[..., None]
        + np.array([0, 40, 80]),
        0,
        255,
    ).astype("uint8")
    for sub in ("422", "420"):
        out = mm.decode_jpeg_pixels(mm.encode_jpeg(smooth, subsampling=sub))
        assert out.shape == smooth.shape
        assert np.array_equal(out, smooth), sub
    # noisy chroma: luma plane must stay near-lossless even though the
    # subsampled chroma is genuinely lossy
    noisy = rng.randint(0, 256, (18, 19, 3)).astype("uint8")
    for sub in ("422", "420"):
        out = mm.decode_jpeg_pixels(mm.encode_jpeg(noisy, subsampling=sub))
        assert out.shape == noisy.shape
        ly = mm._rgb_to_ycbcr(out)[..., 0]
        lp = mm._rgb_to_ycbcr(noisy)[..., 0]
        # bounded by chroma bleed through the clipped RGB round-trip
        assert np.abs(ly - lp).max() < 32, sub
    # restart intervals are pure framing: decoded pixels identical
    for sub in ("444", "420"):
        plain = mm.decode_jpeg_pixels(mm.encode_jpeg(noisy, subsampling=sub))
        for ri in (1, 2, 7):
            withrst = mm.decode_jpeg_pixels(
                mm.encode_jpeg(noisy, subsampling=sub, restart_interval=ri)
            )
            assert np.array_equal(plain, withrst), (sub, ri)
    grey = rng.randint(0, 256, (19, 21)).astype("uint8")
    assert np.array_equal(
        mm.decode_jpeg_pixels(mm.encode_jpeg(grey)),
        mm.decode_jpeg_pixels(mm.encode_jpeg(grey, restart_interval=3)),
    )
    with pytest.raises(ValueError):
        mm.encode_jpeg(noisy, subsampling="411")
    # a wrong/missing RST marker where DRI promises one must be rejected
    payload = bytearray(
        mm.encode_jpeg(noisy, subsampling="420", restart_interval=1)
    )
    rst = payload.index(b"\xff\xd0")
    payload[rst + 1] = 0xD5  # out-of-sequence restart number
    with pytest.raises(ValueError):
        mm.decode_jpeg_pixels(bytes(payload))


def test_adam7_tiny_shape_sweep():
    """Every (w, h) in 1..9 x 1..9 round-trips through the interlaced
    PNG encoder/decoder, each with one of the five filter types — the
    empty-pass geometry sweep (w or h of 1 leaves up to 3 passes
    empty)."""
    import numpy as np

    from eeecs485_p4_mapreduce_spark.operators import multimodal as mm

    rng = np.random.RandomState(485)
    for w in range(1, 10):
        for h in range(1, 10):
            px = rng.randint(0, 256, size=(h, w)).astype(np.uint8)
            ft = (w + h) % 5
            got = mm.decode_png_pixels(mm.encode_png(px, ft, interlace=True))
            assert got.shape == (h, w)
            assert (got == px).all(), (w, h, ft)


def test_png_palette_and_adam7():
    """Color type 3 (PLTE-indexed, optional tRNS alpha) and Adam7
    interlacing — the remaining layouts common real-world PNGs use.
    Round-trips prove the decoder inverts the encoder for every filter
    type; the hand-built fixture proves the pass geometry against the
    spec (not our own encoder); the tiling check proves the pass table
    covers each pixel exactly once."""
    import zlib

    import numpy as np

    from eeecs485_p4_mapreduce_spark.operators import multimodal as mm

    # the 7 passes must tile the 8x8 base grid exactly once
    cover = np.zeros((8, 8), dtype=int)
    for x0, y0, dx, dy in mm._ADAM7:
        cover[y0::dy, x0::dx] += 1
    assert (cover == 1).all()

    rng = np.random.RandomState(11)
    for shape in [(1, 1, 3), (7, 9, 3), (16, 16, 3), (23, 17), (8, 1, 3)]:
        px = rng.randint(0, 256, shape).astype("uint8")
        for ft in range(5):
            got = mm.decode_png_pixels(mm.encode_png(px, ft, interlace=True))
            assert np.array_equal(got, px), (shape, ft)

    pal = [tuple(int(v) for v in row) for row in rng.randint(0, 256, (17, 3))]
    idx = rng.randint(0, 17, (9, 13)).astype("uint8")
    out = mm.decode_png_pixels(mm.encode_png(idx, 3, palette=pal))
    assert np.array_equal(out, np.array(pal, dtype=np.uint8)[idx])
    # partial tRNS: missing entries default to opaque per the spec
    tr = bytes(10 * i for i in range(10))
    out4 = mm.decode_png_pixels(mm.encode_png(idx, 4, palette=pal, trans=tr))
    assert out4.shape == (9, 13, 4)
    assert np.array_equal(out4[..., :3], out)
    alpha = np.full(17, 255, np.uint8)
    alpha[:10] = np.frombuffer(tr, np.uint8)
    assert np.array_equal(out4[..., 3], alpha[idx])
    # palette + interlace compose
    assert np.array_equal(
        mm.decode_png_pixels(mm.encode_png(idx, 0, interlace=True, palette=pal)),
        out,
    )
    with pytest.raises(ValueError):  # index past palette is data corruption
        mm.decode_png_pixels(
            mm.encode_png(np.full((2, 2), 16, np.uint8), palette=pal[:16])
        )

    # Hand-built 2x2 greyscale Adam7 fixture straight from the spec: for
    # w=h=2 only passes 1 (pixel 0,0), 6 (pixel 0,1) and 7 (row 1) are
    # non-empty, each a filter-0 scanline. Built with zlib/struct only —
    # NOT our encoder — so it grounds the pass walk independently.
    def chunk(tag, body):
        return (
            len(body).to_bytes(4, "big") + tag + body
            + zlib.crc32(tag + body).to_bytes(4, "big")
        )

    p = np.array([[10, 20], [30, 40]], dtype=np.uint8)
    raw = bytes([0, 10]) + bytes([0, 20]) + bytes([0, 30, 40])
    ihdr = (2).to_bytes(4, "big") + (2).to_bytes(4, "big") + bytes(
        [8, 0, 0, 0, 1]
    )
    fixture = (
        mm.PNG_SIG
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(raw))
        + chunk(b"IEND", b"")
    )
    assert np.array_equal(mm.decode_png_pixels(fixture), p)


def test_gif_animation_frames():
    """decode_gif_frames composes a multi-frame GIF89a per the spec's
    graphic-control semantics: full-frame round-trips, partial frames at
    (left, top) offsets with transparency masking, disposal 2 (restore
    to background) and 3 (restore to previous), and per-frame delays.
    The canonical spacer.gif fixture grounds the walker on real bytes."""
    import numpy as np

    from eeecs485_p4_mapreduce_spark.operators import multimodal as mm

    rng = np.random.RandomState(9)
    pal = [tuple(int(v) for v in row) for row in rng.randint(0, 256, (8, 3))]
    parr = np.array(pal, dtype=np.uint8)

    fs = [rng.randint(0, 8, (5, 7)).astype("uint8") for _ in range(3)]
    payload = mm.encode_gif_animation(fs, pal, delays=[10, 20, 30])
    frames, delays = mm.decode_gif_frames(payload)
    assert delays == [10, 20, 30]
    assert [np.array_equal(f, parr[i]) for f, i in zip(frames, fs)] == [
        True
    ] * 3
    # the single-frame decoder reads the same stream's first frame
    assert np.array_equal(mm.decode_gif_pixels(payload), parr[fs[0]])

    # partial frame + transparency over a kept canvas
    base = rng.randint(0, 8, (6, 6)).astype("uint8")
    patch = rng.randint(0, 8, (2, 3)).astype("uint8")
    patch[0, 1] = 7
    payload = mm.encode_gif_animation(
        [base, patch],
        pal,
        disposals=[0, 0],
        transparent=[None, 7],
        offsets=[(0, 0), (2, 3)],
        screen=(6, 6),
    )
    frames, _ = mm.decode_gif_frames(payload)
    want = parr[base].copy()
    mask = patch != 7
    want[3:5, 2:5][mask] = parr[patch][mask]
    assert np.array_equal(frames[1], want)

    # disposal 3: the next frame composes on the PRE-frame canvas
    f0 = np.zeros((4, 4), np.uint8)
    f1 = np.full((2, 2), 3, np.uint8)
    f2 = np.full((1, 1), 5, np.uint8)
    payload = mm.encode_gif_animation(
        [f0, f1, f2],
        pal,
        disposals=[1, 3, 0],
        offsets=[(0, 0), (1, 1), (0, 0)],
        screen=(4, 4),
    )
    frames, _ = mm.decode_gif_frames(payload)
    want2 = parr[f0].copy()
    want2[0, 0] = parr[5]
    assert np.array_equal(frames[2], want2)

    # disposal 2: the frame rect reverts to the background color
    payload = mm.encode_gif_animation(
        [f0, f2], pal, disposals=[2, 0], offsets=[(0, 0), (3, 3)],
        screen=(4, 4),
    )
    frames, _ = mm.decode_gif_frames(payload)
    want1 = np.empty((4, 4, 3), np.uint8)
    want1[:] = pal[0]
    want1[3, 3] = parr[5]
    assert np.array_equal(frames[1], want1)

    # real-world grounding + out-of-screen rejection
    frames, delays = mm.decode_gif_frames(_REAL_GIF_1x1)
    assert len(frames) == 1 and frames[0].shape == (1, 1, 3)
    with pytest.raises(ValueError):
        mm.decode_gif_frames(
            mm.encode_gif_animation([f1], pal, offsets=[(3, 3)], screen=(4, 4))
        )


def test_gif_disposal2_transparent_background_restores_to_prior_canvas():
    """Disposal 2 ("restore to background") must NOT flood the rect with
    the GCT background color when the frame's own GCE marks that index
    transparent: conformant renderers restore to transparency, which on
    an RGB canvas means the prior composite stays visible. The encoder
    writes background index 0, so a frame with transparent=0 +
    disposal=2 is exactly that case."""
    import numpy as np

    from eeecs485_p4_mapreduce_spark.operators import multimodal as mm

    pal = [(10, 20, 30), (200, 0, 0), (0, 200, 0), (0, 0, 200),
           (9, 9, 9), (77, 66, 55), (1, 2, 3), (4, 5, 6)]
    parr = np.array(pal, dtype=np.uint8)
    f0 = np.full((4, 4), 2, np.uint8)  # no index-0 pixels: draws fully
    f1 = np.full((1, 1), 5, np.uint8)
    payload = mm.encode_gif_animation(
        [f0, f1], pal, disposals=[2, 0], transparent=[0, None],
        offsets=[(0, 0), (3, 3)], screen=(4, 4),
    )
    frames, _ = mm.decode_gif_frames(payload)
    want = parr[f0].copy()     # f0 survives the disposal (transparent bg)
    want[3, 3] = parr[5]
    assert np.array_equal(frames[1], want)
    # control: the same animation WITHOUT transparency still floods the
    # rect with the background color (the pre-existing semantics)
    payload = mm.encode_gif_animation(
        [f0, f1], pal, disposals=[2, 0], offsets=[(0, 0), (3, 3)],
        screen=(4, 4),
    )
    frames, _ = mm.decode_gif_frames(payload)
    assert tuple(frames[1][0, 0]) == pal[0]


def test_jpeg_decode_skips_fill_bytes_before_markers():
    """T.81 B.1.1.2 allows any number of 0xFF fill bytes before a
    marker; some real encoders emit them between segments. The segment
    walk must skip them, decoding to the identical pixels."""
    import numpy as np

    from eeecs485_p4_mapreduce_spark.operators import multimodal as mm

    rng = np.random.RandomState(21)
    img = rng.randint(0, 256, (16, 24, 3)).astype("uint8")
    clean = mm.encode_jpeg(img, quant=1)
    want = mm.decode_jpeg_pixels(clean)

    # fill bytes right after SOI and again before the next segment: walk
    # the clean stream's segment starts and pad two of them.
    starts = []
    pos = 2
    while pos + 4 <= len(clean) and clean[pos] == 0xFF:
        if clean[pos + 1] == 0xDA:
            break
        starts.append(pos)
        pos += 2 + int.from_bytes(clean[pos + 2:pos + 4], "big")
    assert len(starts) >= 2
    padded = bytearray(clean)
    for at in sorted(starts[:2], reverse=True):
        padded[at:at] = b"\xff" * 3
    got = mm.decode_jpeg_pixels(bytes(padded))
    assert np.array_equal(got, want)


def test_container_walker_mutation_fuzz_only_valueerror():
    """The same structure-aware fuzz contract for the four archive/
    metadata walkers (ustar, TIFF IFD, ZIP, FLAC): every single-byte
    corruption and truncation of a valid payload must either parse or
    raise ValueError — never UnicodeDecodeError/struct.error/
    IndexError, and never hang."""
    import signal

    from eeecs485_p4_mapreduce_spark.operators import multimodal as mm

    walkers = {
        "tar": (
            mm.encode_tar([("a.txt", b"x" * 70), ("b.bin", bytes(range(90)))]),
            mm.parse_tar_members,
        ),
        "tiff": (
            mm.encode_tiff([(9, 7), (5, 4)], big_endian=True, seed=3),
            mm.parse_tiff_ifds,
        ),
        "zip": (
            mm.encode_zip([("a.txt", b"y" * 40), ("b.bin", bytes(range(60)))]),
            mm.parse_zip_entries,
        ),
        "flac": (
            mm.encode_flac(
                44100, 2, 16, 123456,
                comments=[("k", "v")], padding_len=17,
            ),
            mm.parse_flac_stream,
        ),
        "ogg": (
            mm.encode_ogg([(10, [100, 255]), (20, [510])], serial=3),
            mm.parse_ogg_pages,
        ),
        "pdf": (mm.encode_pdf(2, seed=4), mm.parse_pdf_xref),
        "webp": (
            mm.encode_webp_vp8l(641, 479, alpha=True, body_len=23),
            mm.parse_webp_vp8l,
        ),
        "bmp_rle8": (
            mm.encode_bmp_rle8(
                __import__("numpy").tile(
                    __import__("numpy").arange(6, dtype="uint8"), (4, 3)
                ),
                [(i, i, i) for i in range(8)],
            ),
            mm.decode_bmp_rle8_pixels,
        ),
        "ico": (
            mm.encode_ico(
                [
                    (16, 16, 32, "dib", b""),
                    (
                        16,
                        16,
                        32,
                        "png",
                        mm.encode_png(
                            __import__("numpy").zeros(
                                (16, 16, 3), dtype="uint8"
                            )
                        ),
                    ),
                ]
            ),
            mm.parse_ico,
        ),
        "id3": (
            mm.encode_id3v2_tag(
                [("TIT2", "title-9"), ("TPE1", "a"), ("TRCK", "4")],
                padding=7,
            ),
            mm.parse_id3v2,
        ),
        "exif": (
            mm.encode_jpeg_exif(3, "Cam9", "v2.1", big_endian=True),
            mm.parse_jpeg_exif,
        ),
        "aiff": (
            mm.encode_aiff(22050, 2, 16, 25),
            mm.parse_aiff_comm,
        ),
        "png_meta": (
            mm.inject_png_chunks(
                mm.encode_png(
                    __import__("numpy").zeros((8, 8, 3), dtype="uint8")
                ),
                [
                    (b"tEXt", b"Title\x00t7"),
                    (b"pHYs", (2900).to_bytes(4, "big") * 2 + b"\x01"),
                ],
            ),
            mm.parse_png_metadata,
        ),
    }

    class _Hang(Exception):
        pass

    def _alarm(signum, frame):
        raise _Hang()

    old = signal.signal(signal.SIGALRM, _alarm)
    bad: list[tuple] = []
    try:
        for name, (base, dec) in walkers.items():
            mutants = [
                bytes(base[:pos]) + bytes([base[pos] ^ x]) + base[pos + 1:]
                for pos in range(len(base))
                for x in (0xFF, 0x01, 0x80)
            ] + [base[:cut] for cut in range(len(base))]
            for m in mutants:
                signal.setitimer(signal.ITIMER_REAL, 5.0)
                try:
                    dec(m)
                except ValueError:
                    pass
                except _Hang:
                    bad.append((name, "hang"))
                except Exception as e:  # noqa: BLE001 — the point of the test
                    bad.append((name, type(e).__name__, str(e)[:50]))
                finally:
                    signal.setitimer(signal.ITIMER_REAL, 0)
    finally:
        signal.signal(signal.SIGALRM, old)
    assert not bad, f"non-ValueError escapes: {bad[:10]} (total {len(bad)})"


def test_thrift_skip_bool_in_container():
    """Compact-protocol bools are zero-width ONLY as struct fields (the
    value lives in the field header nibble); as list/set/map ELEMENTS
    each bool occupies one byte. skip() must consume those bytes or the
    reader desyncs and corrupts every subsequent field."""
    from eeecs485_p4_mapreduce_spark.operators.multimodal import (
        _ThriftCompact,
    )

    # struct { 1: list<bool> [true,false,true]; 2: i32 7;
    #          3: map<i32,bool> {5: true}; 4: i64 99; } STOP
    buf = bytes(
        [
            0x19,  # field 1, type LIST
            0x31,  # list header: 3 elems, elem type 1 (bool)
            0x01, 0x02, 0x01,  # one byte per bool element
            0x15,  # field 2, type I32
            0x0E,  # zigzag(7)
            0x1B,  # field 3, type MAP
            0x01,  # map size 1
            0x51,  # key type I32 (5), value type BOOL (1)
            0x0A,  # key: zigzag(5)
            0x01,  # value: bool true, ONE byte as a map value
            0x16,  # field 4, type I64
            0xC6, 0x01,  # zigzag(99)
            0x00,  # STOP
        ]
    )
    tc = _ThriftCompact(buf)
    seen = {}
    for fid, t in tc.fields():
        if fid in (2, 4):
            seen[fid] = tc.zigzag()
        else:
            tc.skip(t)
    # A desynced reader cannot produce these values AND land exactly on
    # the buffer end.
    assert seen == {2: 7, 4: 99}
    assert tc.pos == len(buf)

    # Struct-field bools remain zero-width: struct {1: bool true;
    # 2: i32 7} — skipping field 1 must NOT consume a byte.
    tc2 = _ThriftCompact(bytes([0x11, 0x15, 0x0E, 0x00]))
    vals = {}
    for fid, t in tc2.fields():
        if fid == 2:
            vals[fid] = tc2.zigzag()
        else:
            tc2.skip(t)
    assert vals == {2: 7}
    assert tc2.pos == 4
