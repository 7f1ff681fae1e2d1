"""Multimodal plumbing: REAL PNG/WAV codecs over real Spark shapes."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from pq_spark.codecs import decode_png, decode_wav, encode_png, encode_wav
from pq_spark.multimodal import synth_media


# -- pure codec round-trips (no Spark) --------------------------------------


def test_png_roundtrip():
    rng = np.random.default_rng(7)
    for h, w in [(1, 1), (3, 5), (16, 16), (11, 4)]:
        img = rng.integers(0, 256, (h, w), dtype=np.uint8)
        assert np.array_equal(decode_png(encode_png(img)), img)


def test_png_decodes_all_filters():
    # hand-built PNG using Sub/Up/Average/Paeth filtered scanlines — our
    # encoder emits filter 0 only, so pin the decoder against an
    # independently-constructed image
    import struct
    import zlib

    from pq_spark.codecs import _chunk, _PNG_SIG

    img = np.arange(20, dtype=np.uint8).reshape(4, 5) * 7 % 256
    lines = []
    # row 0: Sub(1)
    r = img[0].astype(int)
    lines.append(bytes([1]) + bytes([(r[x] - (r[x - 1] if x else 0)) % 256 for x in range(5)]))
    # row 1: Up(2)
    lines.append(bytes([2]) + bytes([(int(img[1][x]) - int(img[0][x])) % 256 for x in range(5)]))
    # row 2: Average(3)
    r, p = img[2].astype(int), img[1].astype(int)
    lines.append(bytes([3]) + bytes([(r[x] - ((r[x - 1] if x else 0) + p[x]) // 2) % 256 for x in range(5)]))
    # row 3: Paeth(4)
    from pq_spark.codecs import _paeth

    r, p = img[3].astype(int), img[2].astype(int)
    lines.append(bytes([4]) + bytes([
        (r[x] - _paeth(r[x - 1] if x else 0, p[x], p[x - 1] if x else 0)) % 256
        for x in range(5)
    ]))
    ihdr = struct.pack(">IIBBBBB", 5, 4, 8, 0, 0, 0, 0)
    png = (_PNG_SIG + _chunk(b"IHDR", ihdr)
           + _chunk(b"IDAT", zlib.compress(b"".join(lines)))
           + _chunk(b"IEND", b""))
    assert np.array_equal(decode_png(png), img)


def test_png_rgb_roundtrip():
    rng = np.random.default_rng(11)
    for h, w in [(1, 1), (3, 5), (16, 16), (11, 4)]:
        img = rng.integers(0, 256, (h, w, 3), dtype=np.uint8)
        out = decode_png(encode_png(img))
        assert out.shape == (h, w, 3)
        assert np.array_equal(out, img)


def test_png_rgb_decodes_external_style_adaptive_filters():
    # an independent writer in the style of libpng: RGB truecolor with the
    # per-row adaptive minimum-sum-of-absolute-differences filter heuristic,
    # bpp=3 offsets — a stream shape our own encoder (filter 0 only) never
    # produces, standing in for an external tool's output
    import struct
    import zlib

    from pq_spark.codecs import _chunk, _paeth, _PNG_SIG

    rng = np.random.default_rng(5)
    h, w, bpp = 9, 7, 3
    # smooth gradient + noise so different rows pick different filters
    yy, xx = np.mgrid[0:h, 0:w]
    img = ((yy * 25 + xx * 11)[:, :, None] + rng.integers(0, 30, (h, w, 3))
           ).astype(np.uint8)

    def filt(ftype, row, prev):
        r = row.astype(int)
        p = prev.astype(int)
        out = []
        for x in range(w * bpp):
            left = r[x - bpp] if x >= bpp else 0
            up = p[x]
            ul = p[x - bpp] if x >= bpp else 0
            pred = {0: 0, 1: left, 2: up, 3: (left + up) // 2,
                    4: _paeth(left, up, ul)}[ftype]
            out.append((r[x] - pred) % 256)
        return bytes(out)

    lines, used = [], set()
    prev = np.zeros(w * bpp, dtype=np.uint8)
    for y in range(h):
        row = img[y].reshape(-1)
        cands = {f: filt(f, row, prev) for f in range(5)}
        best = min(cands, key=lambda f: sum(
            v if v < 128 else 256 - v for v in cands[f]))
        used.add(best)
        lines.append(bytes([best]) + cands[best])
        prev = row
    assert len(used) > 1, "fixture degenerate: one filter chosen everywhere"
    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)
    png = (_PNG_SIG + _chunk(b"IHDR", ihdr)
           + _chunk(b"IDAT", zlib.compress(b"".join(lines)))
           + _chunk(b"IEND", b""))
    assert np.array_equal(decode_png(png), img)


def test_png_rejects_corruption():
    img = np.zeros((2, 2), dtype=np.uint8)
    png = bytearray(encode_png(img))
    png[20] ^= 0xFF  # flip a byte inside IHDR → CRC must fail
    with pytest.raises(ValueError):
        decode_png(bytes(png))


def test_png_decode_bound_rejects_adversarial_dimensions():
    """Round-4 verdict item 6: an adversarial external PNG claiming huge
    dimensions (the worst case: Average/Paeth rows = O(h·w) sequential
    work, and IDAT is DEFLATE so a tiny file can expand to gigabytes)
    must be rejected AT THE HEADER, before any decompression or filter
    work — an executor inside mapInPandas can never be stalled by one."""
    import struct
    import time
    import zlib

    from pq_spark.codecs import _chunk, _PNG_SIG

    # 200,000 × 200,000 claimed → 4·10^10 pixels; a ~100-byte file
    ihdr = struct.pack(">IIBBBBB", 200_000, 200_000, 8, 0, 0, 0, 0)
    bomb = (
        _PNG_SIG
        + _chunk(b"IHDR", ihdr)
        + _chunk(b"IDAT", zlib.compress(b"\x00" * 1024))
        + _chunk(b"IEND", b"")
    )
    t0 = time.perf_counter()
    with pytest.raises(ValueError, match="decode bound"):
        decode_png(bomb)
    assert time.perf_counter() - t0 < 1.0  # rejected instantly, not after GBs
    # trusted callers can raise the bound explicitly (here: a real tiny
    # image passes under any bound that admits it)
    img = np.arange(64, dtype=np.uint8).reshape(8, 8)
    assert np.array_equal(decode_png(encode_png(img), max_pixels=64), img)
    with pytest.raises(ValueError, match="decode bound"):
        decode_png(encode_png(img), max_pixels=63)


def test_wav_roundtrip():
    rng = np.random.default_rng(9)
    s = rng.integers(-32768, 32767, 441, dtype=np.int16)
    rate, out = decode_wav(encode_wav(s, 22_050))
    assert rate == 22_050
    assert np.array_equal(out, s)


# -- Spark pipeline over the real formats -----------------------------------


def test_media_deterministic(spark):
    a = synth_media(spark, 50).orderBy("media_id").collect()
    b = synth_media(spark, 50).orderBy("media_id").collect()
    assert a == b


def test_codecs_reject_truncation_with_valueerror():
    # callers quarantine bad media rows by catching ValueError — truncated
    # input must never escape as struct.error / numpy errors
    img = np.random.default_rng(3).integers(0, 256, (6, 6), dtype=np.uint8)
    png = encode_png(img)
    wav = encode_wav(np.zeros(64, dtype=np.int16))
    for blob, cut in [(png, len(png) - 7), (png, 15), (wav, len(wav) - 3),
                      (wav, 14)]:
        with pytest.raises(ValueError):
            (decode_png if blob is png else decode_wav)(blob[:cut])


def test_codec_fuzz_roundtrip_and_rejection():
    """Hypothesis-style fuzz (deterministic seeds): every uint8 image and
    int16 signal round-trips; random byte corruptions and truncations of
    valid files either decode to SOMETHING or raise ValueError — never an
    uncaught struct/numpy/index error that would kill a Spark task."""
    rng = np.random.default_rng(123)
    for _ in range(20):
        h, w = int(rng.integers(1, 40)), int(rng.integers(1, 40))
        img = rng.integers(0, 256, (h, w), dtype=np.uint8)
        assert np.array_equal(decode_png(encode_png(img)), img)
        s = rng.integers(-32768, 32767, int(rng.integers(1, 500)),
                         dtype=np.int16)
        assert np.array_equal(decode_wav(encode_wav(s))[1], s)

    img = rng.integers(0, 256, (8, 8), dtype=np.uint8)
    png, wav = encode_png(img), encode_wav(
        rng.integers(-100, 100, 64, dtype=np.int16))
    for blob, dec in [(png, decode_png), (wav, decode_wav)]:
        for _ in range(200):
            b = bytearray(blob)
            mode = rng.integers(0, 3)
            if mode == 0:
                b[int(rng.integers(0, len(b)))] ^= int(rng.integers(1, 256))
            elif mode == 1:
                b = b[: int(rng.integers(0, len(b)))]
            else:
                i = int(rng.integers(0, len(b)))
                b = b[:i] + bytes(rng.integers(0, 256, 8, dtype=np.uint8)) + b[i:]
            try:
                dec(bytes(b))
            except ValueError:
                pass  # the contract: ValueError or success, nothing else


def test_media_header_facts_jvm_parse(spark):
    """The JVM-side header parser (hex/substring/conv — zero Python on the
    bytes) must agree with the codecs' own containers: every synthesized
    blob carries a valid magic AND a header that matches its meta struct
    exactly; per-kind byte totals reconcile with a direct length sum."""
    from pq_spark.multimodal import media_header_facts

    media = synth_media(spark, 120, seed=11).cache()
    facts = {r["kind"]: r for r in media_header_facts(media).collect()}
    totals = {
        r["kind"]: (r["n"], r["b"])
        for r in media.groupBy("kind")
        .agg(F.count(F.lit(1)).alias("n"), F.sum(F.length("blob")).alias("b"))
        .collect()
    }
    assert set(facts) == {"image", "audio", "video"}
    for kind, row in facts.items():
        n, b = totals[kind]
        assert row["n"] == n and row["bytes_total"] == b
        assert row["magic_ok_n"] == n, f"{kind}: bad magic"
        assert row["meta_agree_n"] == n, f"{kind}: header/meta mismatch"
        assert row["hdr_a_sum"] > 0 and row["hdr_b_sum"] > 0
    media.unpersist()
