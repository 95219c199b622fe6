"""Pure-Python media codecs (core.media_codecs): WAV PCM + netpbm round
trips, strict error paths, and the real-decode branch of the multimodal
operator (round-3 verdict #8)."""

import math
import struct

import pytest

from engine_reference import encode_pgm
from scrubah_pii_spark.core.media_codecs import (
    MediaDecodeError,
    decode_pnm,
    decode_wav,
    detect_and_decode,
    encode_ppm,
    encode_wav,
)


class TestWav:
    def test_roundtrip_8bit_features(self):
        samples = [0, 64, 128, 192, 255, 128, 128, 128]
        d = decode_wav(encode_wav(samples, rate=8000, bits=8))
        assert d["codec"] == "wav"
        assert d["duration_ms"] == len(samples) * 1000 // 8000
        centered = [s - 128 for s in samples]
        n = len(samples)
        assert d["features"][0] == sum(centered) / (128 * n)
        assert d["features"][1] == math.sqrt(
            sum(c * c for c in centered) / (16384 * n)
        )

    def test_roundtrip_16bit(self):
        samples = [-32768, -1, 0, 1, 32767, 1000]
        d = decode_wav(encode_wav(samples, rate=44100, bits=16))
        n = len(samples)
        assert d["duration_ms"] == n * 1000 // 44100
        assert d["features"][0] == sum(samples) / (32768 * n)

    def test_silence_is_zero(self):
        d = decode_wav(encode_wav([128] * 100, bits=8))
        assert d["features"] == [0.0, 0.0]

    def test_full_scale_square_wave_rms_one(self):
        d = decode_wav(encode_wav([-32768, -32768, -32768] , bits=16))
        assert d["features"][1] == 1.0

    def test_truncated_data_chunk_raises(self):
        b = encode_wav([128] * 10, bits=8)
        with pytest.raises(MediaDecodeError):
            decode_wav(b[:-3])

    def test_non_pcm_raises(self):
        b = bytearray(encode_wav([128] * 4, bits=8))
        # audio_format field lives at offset 20 (RIFF12 + 'fmt '+len 8)
        struct.pack_into("<H", b, 20, 85)  # mp3
        with pytest.raises(MediaDecodeError, match="non-PCM"):
            decode_wav(bytes(b))

    def test_stereo_rejected(self):
        b = bytearray(encode_wav([128] * 4, bits=8))
        struct.pack_into("<H", b, 22, 2)
        with pytest.raises(MediaDecodeError, match="mono"):
            decode_wav(bytes(b))

    def test_empty_data_raises(self):
        with pytest.raises(MediaDecodeError):
            decode_wav(encode_wav([], bits=8))

    def test_odd_chunk_word_alignment(self):
        # a 3-byte LIST chunk before data must be skipped with pad byte
        base = encode_wav([0, 255], bits=8)
        riff, rest = base[:12], base[12:]
        extra = struct.pack("<4sI", b"LIST", 3) + b"abc\x00"
        payload = riff + extra + rest
        d = decode_wav(payload)
        assert len(d["features"]) == 2


class TestPnm:
    def test_ppm_roundtrip_means(self):
        w, h = 3, 2
        raster = bytes(range(w * h * 3))
        d = decode_pnm(encode_ppm(raster, w, h))
        assert (d["codec"], d["width"], d["height"]) == ("ppm", 3, 2)
        n = w * h
        for c in range(3):
            assert d["features"][c] == sum(raster[c::3]) / (255 * n)

    def test_pgm_roundtrip(self):
        raster = bytes([0, 255, 128, 64])
        d = decode_pnm(encode_pgm(raster, 2, 2))
        assert d["codec"] == "pgm"
        assert d["features"] == [sum(raster) / (255 * 4)]

    def test_header_comments_and_whitespace(self):
        raster = bytes([1, 2, 3])
        payload = b"P5\n# a comment\n 3 # widths\n1\n# another\n255\n" + raster
        d = decode_pnm(payload)
        assert (d["width"], d["height"]) == (3, 1)

    def test_truncated_raster_raises(self):
        b = encode_ppm(bytes(18), 3, 2)
        with pytest.raises(MediaDecodeError, match="truncated raster"):
            decode_pnm(b[:-1])

    def test_bad_maxval_raises(self):
        with pytest.raises(MediaDecodeError):
            decode_pnm(b"P5\n2 2\n65535\n" + bytes(8))

    def test_zero_width_raises(self):
        with pytest.raises(MediaDecodeError):
            decode_pnm(b"P6\n0 2\n255\n")


class TestDispatch:
    def test_unknown_returns_none(self):
        assert detect_and_decode(b"hello world, not media") is None
        assert detect_and_decode(b"") is None

    def test_wav_and_pnm_dispatch(self):
        assert detect_and_decode(encode_wav([128], bits=8))["codec"] == "wav"
        assert detect_and_decode(encode_ppm(bytes(3), 1, 1))["codec"] == "ppm"

    def test_recognized_but_malformed_raises(self):
        with pytest.raises(MediaDecodeError):
            detect_and_decode(b"RIFF\x00\x00\x00\x00WAVEjunk")


class TestOperatorRealDecode:
    def test_mixed_payloads_through_operator(self, spark):
        from scrubah_pii_spark.operators.multimodal import extract_media_features

        wav = encode_wav([0, 128, 255, 128], rate=1000, bits=8)
        ppm = encode_ppm(bytes([10, 20, 30] * 2), 2, 1)
        bad = b"RIFF\x04\x00\x00\x00WAVE"  # recognized, malformed
        other = b"plain text payload"
        df = spark.createDataFrame(
            [(1, wav), (2, ppm), (3, bad), (4, other)],
            "id int, payload binary",
        )
        rows = {r["id"]: r["media"].asDict()
                for r in extract_media_features(df).collect()}
        assert rows[1]["codec"] == "wav"
        assert rows[1]["duration_ms"] == 4 * 1000 // 1000
        assert rows[2]["codec"] == "ppm" and rows[2]["width"] == 2
        assert rows[3]["error"] is not None and rows[3]["codec"] is None
        assert rows[4]["codec"] == "hash" and len(rows[4]["features"]) == 8
        # hash fallback unchanged: sha256-derived stand-in features
        import hashlib

        d = hashlib.sha256(other).digest()
        got = [round(f, 6) for f in rows[4]["features"]]
        assert got == [round(b / 255.0, 6) for b in d[:8]]


class TestJpegCodec:
    """Baseline JFIF codec (core/jpeg_codec.py, round-4 verdict #3)."""

    def test_constant_blocks_roundtrip_exact(self):
        import numpy as np

        from scrubah_pii_spark.core.jpeg_codec import decode_jpeg, encode_jpeg

        vals = [10, 200, 128, 77]
        img = np.zeros((16, 16), dtype=np.uint8)
        img[:8, :8], img[:8, 8:] = vals[0], vals[1]
        img[8:, :8], img[8:, 8:] = vals[2], vals[3]
        d = decode_jpeg(encode_jpeg(img.tobytes(), 16, 16, quant_val=1))
        assert (d["codec"], d["width"], d["height"]) == ("jpeg", 16, 16)
        assert d["duration_ms"] is None
        # quant=1 + DC-only blocks => bit-exact mean (oracle contract)
        assert d["features"] == [sum(v * 64 for v in vals) / (255 * 256)]

    def test_general_roundtrip_close(self):
        import numpy as np

        from scrubah_pii_spark.core.jpeg_codec import decode_jpeg, encode_jpeg

        rng = np.random.RandomState(11)
        img = rng.randint(90, 166, (24, 17)).astype(np.uint8)  # non-8-multiple
        d = decode_jpeg(encode_jpeg(img.tobytes(), 17, 24, quant_val=1))
        assert (d["width"], d["height"]) == (17, 24)
        true_mean = int(img.astype(np.int64).sum()) / (255 * 17 * 24)
        # quant=1 keeps DCT rounding loss tiny; mean error far under 1 LSB
        assert abs(d["features"][0] - true_mean) < 1.0 / 255

    def test_quantized_roundtrip_bounded_error(self):
        import numpy as np

        from scrubah_pii_spark.core.jpeg_codec import decode_jpeg, encode_jpeg

        rng = np.random.RandomState(3)
        img = rng.randint(0, 256, (32, 32)).astype(np.uint8)
        d = decode_jpeg(encode_jpeg(img.tobytes(), 32, 32, quant_val=16))
        true_mean = int(img.astype(np.int64).sum()) / (255 * 32 * 32)
        assert abs(d["features"][0] - true_mean) < 16.0 / 255

    def test_dispatch_and_strictness(self):
        import numpy as np

        from scrubah_pii_spark.core.jpeg_codec import decode_jpeg, encode_jpeg

        payload = encode_jpeg(bytes([50] * 64), 8, 8)
        assert detect_and_decode(payload)["codec"] == "jpeg"
        with pytest.raises(MediaDecodeError):
            decode_jpeg(payload[:40])  # truncated mid-segment
        with pytest.raises(MediaDecodeError, match="non-baseline"):
            decode_jpeg(b"\xff\xd8\xff\xc2\x00\x05abc")  # progressive SOF2
        with pytest.raises(MediaDecodeError, match="EOI before SOS"):
            decode_jpeg(b"\xff\xd8\xff\xd9\x00\x00")  # EOI, no scan
        # truncated mid-scan -> decode error, not garbage output
        rng = np.random.RandomState(5)
        big = encode_jpeg(
            rng.randint(0, 256, 32 * 32).astype(np.uint8).tobytes(), 32, 32
        )
        with pytest.raises(MediaDecodeError):
            decode_jpeg(big[: len(big) // 2])

    def test_huffman_tables_canonical(self):
        # every (code,length) must be prefix-free; spot-check table sizes
        from scrubah_pii_spark.core.jpeg_codec import (
            AC_LUM_BITS,
            AC_LUM_VALS,
            DC_LUM_BITS,
            DC_LUM_VALS,
            _build_codes,
        )

        assert sum(DC_LUM_BITS) == len(DC_LUM_VALS) == 12
        assert sum(AC_LUM_BITS) == len(AC_LUM_VALS) == 162
        codes = _build_codes(AC_LUM_BITS, AC_LUM_VALS)
        seen = {(c, l) for c, l in codes.values()}
        assert len(seen) == 162
        for c, l in seen:  # prefix-freedom against all shorter codes
            for c2, l2 in seen:
                if l2 < l and (c >> (l - l2)) == c2:
                    raise AssertionError("prefix violation")


class TestPngCodec:
    """PNG codec (core/png_codec.py, round 5): lossless, so EVERY payload
    round-trips exactly — the strongest oracle contract of the four."""

    def test_grey_roundtrip_exact(self):
        import random

        from scrubah_pii_spark.core.png_codec import decode_png, encode_png

        rng = random.Random(2)
        w, h = 13, 9
        px = bytes(rng.randrange(256) for _ in range(w * h))
        d = decode_png(encode_png(px, w, h, 1))
        assert (d["codec"], d["width"], d["height"]) == ("png", w, h)
        assert d["features"] == [sum(px) / (255 * w * h)]

    def test_rgb_roundtrip_exact(self):
        import random

        from scrubah_pii_spark.core.png_codec import decode_png, encode_png

        rng = random.Random(3)
        w, h = 5, 4
        px = bytes(rng.randrange(256) for _ in range(w * h * 3))
        d = decode_png(encode_png(px, w, h, 3))
        assert d["features"] == [
            sum(px[c::3]) / (255 * w * h) for c in range(3)
        ]

    def test_all_filter_types_decode(self):
        import struct
        import zlib

        from scrubah_pii_spark.core.png_codec import (
            PNG_SIG,
            _crc_chunk,
            decode_png,
        )

        # one scanline per filter type 0..4, 2px grey; expected unfiltered:
        # (0) 10,20; (1 Sub) 5,12; (2 Up) 6,13; (3 Avg) 7,14; (4 Paeth) 9,16
        lines = [(0, [10, 20]), (1, [5, 7]), (2, [1, 1]), (3, [4, 4]), (4, [2, 2])]
        raw = b"".join(bytes([f]) + bytes(l) for f, l in lines)
        ihdr = struct.pack(">IIBBBBB", 2, 5, 8, 0, 0, 0, 0)
        p = (
            PNG_SIG
            + _crc_chunk(b"IHDR", ihdr)
            + _crc_chunk(b"IDAT", zlib.compress(raw))
            + _crc_chunk(b"IEND", b"")
        )
        d = decode_png(p)
        expected = [10, 20, 5, 12, 6, 13, 7, 14, 9, 16]
        assert d["features"] == [sum(expected) / (255 * 10)]

    def test_strictness(self):
        from scrubah_pii_spark.core.png_codec import decode_png, encode_png

        good = encode_png(bytes(range(16)), 4, 4, 1)
        with pytest.raises(MediaDecodeError, match="signature"):
            decode_png(b"\x89PNGxxxx" + good[8:])
        with pytest.raises(MediaDecodeError, match="missing IHDR"):
            decode_png(good[:8] + b"junk")
        bad_crc = bytearray(good)
        bad_crc[20] ^= 0xFF
        with pytest.raises(MediaDecodeError, match="bad crc"):
            decode_png(bytes(bad_crc))
        with pytest.raises(MediaDecodeError, match="truncated|missing IEND"):
            decode_png(good[:-6])
        # palette image without PLTE; bad interlace method byte
        import struct

        from scrubah_pii_spark.core.png_codec import PNG_SIG, _crc_chunk

        ihdr = struct.pack(">IIBBBBB", 4, 4, 8, 3, 0, 0, 0)
        p = PNG_SIG + _crc_chunk(b"IHDR", ihdr) + _crc_chunk(b"IEND", b"")
        with pytest.raises(MediaDecodeError, match="PLTE"):
            decode_png(p)
        ihdr = struct.pack(">IIBBBBB", 4, 4, 8, 0, 0, 0, 2)
        p = PNG_SIG + _crc_chunk(b"IHDR", ihdr) + _crc_chunk(b"IEND", b"")
        with pytest.raises(MediaDecodeError, match="interlace"):
            decode_png(p)

    def test_adam7_roundtrip_exact(self):
        import random

        from scrubah_pii_spark.core.png_codec import decode_png, encode_png

        rng = random.Random(19)
        # odd sizes exercise empty/partial Adam7 passes
        for w, h, ch in [(13, 9, 1), (5, 4, 3), (1, 1, 1), (7, 1, 3), (1, 9, 1)]:
            px = bytes(rng.randrange(256) for _ in range(w * h * ch))
            d = decode_png(encode_png(px, w, h, ch, interlace=True))
            assert d["features"] == [
                sum(px[c::ch]) / (255 * w * h) for c in range(ch)
            ]

    def test_palette_all_depths_roundtrip(self):
        import random

        from engine_reference import encode_png_palette
        from scrubah_pii_spark.core.png_codec import decode_png

        rng = random.Random(23)
        for depth in (1, 2, 4, 8):
            nc = min(1 << depth, 11)
            pal = bytes(
                (k * 19 + 5 + c * 3) % 256 for k in range(nc) for c in range(3)
            )
            for w, h in [(10, 7), (1, 1), (3, 5)]:
                idx = bytes(rng.randrange(nc) for _ in range(w * h))
                d = decode_png(encode_png_palette(idx, w, h, pal, depth))
                assert d["features"] == [
                    sum(pal[3 * i + c] for i in idx) / (255 * w * h)
                    for c in range(3)
                ]

    def test_16bit_and_alpha_types(self):
        import random
        import struct
        import zlib

        from scrubah_pii_spark.core.png_codec import (
            PNG_SIG,
            _crc_chunk,
            decode_png,
        )

        rng = random.Random(29)

        def build(w, h, ctype, ch, vals):
            ihdr = struct.pack(">IIBBBBB", w, h, 16, ctype, 0, 0, 0)
            raw = bytearray()
            for y in range(h):
                raw.append(0)
                for x in range(w * ch):
                    raw += struct.pack(">H", vals[y * w * ch + x])
            return (
                PNG_SIG
                + _crc_chunk(b"IHDR", ihdr)
                + _crc_chunk(b"IDAT", zlib.compress(bytes(raw)))
                + _crc_chunk(b"IEND", b"")
            )

        for ctype, ch in [(0, 1), (2, 3), (4, 2), (6, 4)]:
            w, h = 6, 3
            vals = [rng.randrange(65536) for _ in range(w * h * ch)]
            d = decode_png(build(w, h, ctype, ch, vals))
            assert d["features"] == [
                sum(vals[c::ch]) / (65535 * w * h) for c in range(ch)
            ]

    def test_dispatch(self):
        from scrubah_pii_spark.core.png_codec import encode_png

        assert detect_and_decode(encode_png(bytes(4), 2, 2, 1))["codec"] == "png"


class TestGifCodec:
    """GIF codec (core/gif_codec.py, round 5): variable-width LZW over
    palette indices is lossless, so every payload round-trips exactly —
    including 4-pass interlaced rasters, which the decoder re-sequences."""

    @staticmethod
    def _pal(nc, seed=3):
        return bytes((k * 11 + seed + c * 7) % 256 for k in range(nc) for c in range(3))

    def test_roundtrip_exact_sequential_and_interlaced(self):
        import random

        from scrubah_pii_spark.core.gif_codec import decode_gif, encode_gif

        rng = random.Random(5)
        for interlace in (False, True):
            for w, h, nc in [(5, 4, 8), (16, 16, 256), (1, 1, 2), (37, 11, 5)]:
                pal = self._pal(nc)
                idx = bytes(rng.randrange(nc) for _ in range(w * h))
                d = decode_gif(encode_gif(idx, w, h, pal, interlace=interlace))
                assert (d["codec"], d["width"], d["height"]) == ("gif", w, h)
                n_px = w * h
                assert d["features"] == [
                    sum(pal[3 * i + c] for i in idx) / (255 * n_px)
                    for c in range(3)
                ]

    def test_lzw_variable_width_and_table_full_reclear(self):
        import random

        from scrubah_pii_spark.core.gif_codec import _lzw_decode, _lzw_encode

        rng = random.Random(11)
        for mcs in (2, 4, 8):
            # random data grows the table through every code width; the
            # doubled repetitive stream drives it to 4096 -> re-Clear
            data = bytes(rng.randrange(1 << mcs) for _ in range(20000))
            assert bytes(_lzw_decode(_lzw_encode(data, mcs), mcs, len(data))) == data
            rep = bytes([i % (1 << mcs) for i in range(30000)]) * 2
            assert bytes(_lzw_decode(_lzw_encode(rep, mcs), mcs, len(rep))) == rep

    def test_gif87a_and_extension_blocks_skipped(self):
        from scrubah_pii_spark.core.gif_codec import decode_gif, encode_gif

        pal = self._pal(4)
        gif = bytearray(encode_gif(bytes([0, 1, 2, 3]), 2, 2, pal))
        gif[:6] = b"GIF87a"
        # splice a graphic-control extension before the image descriptor
        img_at = 13 + 3 * 4
        ext = b"\x21\xf9\x04\x00\x00\x00\x00\x00"
        spliced = bytes(gif[:img_at]) + ext + bytes(gif[img_at:])
        d = decode_gif(spliced)
        assert d["codec"] == "gif" and d["width"] == 2

    def test_local_color_table_wins(self):
        import struct

        from scrubah_pii_spark.core.gif_codec import (
            _lzw_encode,
            decode_gif,
            encode_gif,
        )

        # build by hand: global table of zeros, local table with real colors
        pal_local = self._pal(4, seed=9)
        lsd = struct.pack("<HHBBB", 2, 2, 0x80 | 1, 0, 0)
        gct = bytes(12)
        idx = bytes([0, 1, 2, 3])
        lzw = _lzw_encode(idx, 2)
        sub = bytes([len(lzw)]) + lzw + b"\x00"
        img = struct.pack("<BHHHHB", 0x2C, 0, 0, 2, 2, 0x80 | 1)
        p = b"GIF89a" + lsd + gct + img + pal_local + b"\x02" + sub + b"\x3b"
        d = decode_gif(p)
        assert d["features"] == [
            sum(pal_local[3 * i + c] for i in idx) / (255 * 4) for c in range(3)
        ]
        # and the encoder's global-table form agrees
        d2 = decode_gif(encode_gif(idx, 2, 2, pal_local))
        assert d2["features"] == d["features"]

    def test_strictness(self):
        from scrubah_pii_spark.core.gif_codec import decode_gif, encode_gif

        good = encode_gif(bytes([0, 1, 2, 3]), 2, 2, self._pal(4))
        with pytest.raises(MediaDecodeError, match="signature"):
            decode_gif(b"GIF88a" + good[6:])
        with pytest.raises(MediaDecodeError, match="truncated"):
            decode_gif(good[:10])
        with pytest.raises(MediaDecodeError, match="truncated|trailer|image"):
            decode_gif(good[:20])
        # LZW stream cut mid-raster
        with pytest.raises(MediaDecodeError, match="LZW|truncated"):
            decode_gif(good[:-4] + b"\x00\x3b")

    def test_dispatch(self):
        from scrubah_pii_spark.core.gif_codec import encode_gif

        gif = encode_gif(bytes([0, 1, 2, 3]), 2, 2, self._pal(4))
        assert detect_and_decode(gif)["codec"] == "gif"
