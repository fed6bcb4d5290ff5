"""Extension-operator tests over the driver's documents/embeddings tables
plus synthetic near-duplicates (the natural tables have no exact dups)."""

import pytest
from pyspark.sql import Row, functions as F

from fluent_bit_spark.model import load_table
from fluent_bit_spark.extensions.dedup import (
    embedding_dedup,
    exact_dedup,
    minhash_dedup,
    minhash_signatures,
    ngram_jaccard_pairs,
    lsh_candidate_pairs,
    simhash,
    simhash_dedup,
    word_shingles,
)
from fluent_bit_spark.extensions.similarity import cosine, cosine_topk, lsh_topk
from fluent_bit_spark.extensions.text import fingerprint, lang_id, quality_score, token_count
from fluent_bit_spark.extensions.multimodal import (
    extract_media_metadata,
    frame_sample_plan,
    to_media_frame,
)

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def docs(spark):
    return load_table(spark, SF, "documents").cache()


@pytest.fixture(scope="module")
def near_dups(spark, docs):
    """documents + near-copies of 5 docs (one word changed) + exact copies."""
    base = docs.limit(5)
    near = base.select(
        (F.col("doc_id") + 100000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" xyzzy")).alias("text"),
        "lang", "source", "n_chars",
    )
    exact = base.select(
        (F.col("doc_id") + 200000).alias("doc_id"),
        F.concat(F.col("text"), F.lit("  ")).alias("text"),  # whitespace-only change
        "lang", "source", "n_chars",
    )
    return docs.unionByName(near).unionByName(exact).cache()


def test_exact_dedup(near_dups, docs):
    n_docs = docs.count()
    out = exact_dedup(near_dups)
    # 5 exact (normalized) copies removed; near-copies kept
    assert out.count() == n_docs + 5
    assert out.filter(F.col("doc_id") >= 200000).count() == 0


def test_minhash_dedup_catches_near_dups(near_dups, docs):
    out = minhash_dedup(near_dups, num_hashes=32, num_bands=16)
    # all 10 synthetic copies (near + exact) collapse onto the originals
    assert out.filter(F.col("doc_id") >= 100000).count() == 0
    # the driver corpus contains NATURAL near-dups (word-salad generator
    # emits jaccard~0.99 pairs), so the result is smaller than the corpus
    assert 400 < out.count() <= docs.count()
    # verification threshold trims the candidate set to true high-jaccard dups
    strict = minhash_dedup(near_dups, num_hashes=32, num_bands=16, jaccard_threshold=0.9)
    assert strict.count() >= out.count()
    assert strict.filter(F.col("doc_id") >= 200000).count() == 0


def test_ngram_jaccard_verification(spark, near_dups):
    sig = minhash_signatures(near_dups, num_hashes=16)
    pairs = lsh_candidate_pairs(sig, num_bands=8)
    verified = ngram_jaccard_pairs(near_dups, pairs)
    hi = verified.filter(F.col("jaccard") >= 0.8)
    # each synthetic copy pairs with its original at jaccard >= 0.8
    assert hi.filter(F.col("id_b") >= 100000).count() >= 10


def test_simhash_dedup(near_dups):
    fps = simhash(near_dups)
    assert fps.count() == near_dups.count()
    out = simhash_dedup(near_dups, hamming_threshold=3)
    # exact copies (identical token sets) definitely collapse
    assert out.filter(F.col("doc_id") >= 200000).count() == 0


def test_cosine_topk_and_lsh(spark):
    emb = load_table(spark, SF, "embeddings").cache()
    queries = emb.limit(3).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    exact = cosine_topk(emb, queries, k=5)
    assert exact.count() == 15
    # self-similarity rank 1 with cos ~ 1
    self_hits = exact.filter((F.col("query_id") == F.col("vec_id")) & (F.col("rank") == 1))
    assert self_hits.count() == 3
    ann = lsh_topk(emb, queries, k=5, tables=4, nbits=6)
    # ANN finds the identical vector too (same bucket in every table)
    assert ann.filter((F.col("query_id") == F.col("vec_id")) & (F.col("rank") == 1)).count() == 3


def test_embedding_dedup(spark):
    emb = load_table(spark, SF, "embeddings")
    dup = emb.limit(4).select((F.col("vec_id") + 10000).alias("vec_id"), "embedding", "label")
    both = emb.unionByName(dup)
    out = embedding_dedup(both, threshold=0.999)
    assert out.filter(F.col("vec_id") >= 10000).count() == 0
    assert out.count() == emb.count()


def test_text_analysis(docs):
    out = docs.select(
        "doc_id",
        lang_id(F.col("text")).alias("lang_pred"),
        token_count(F.col("text")).alias("n_tokens"),
        fingerprint(F.col("text")).alias("fp"),
    )
    r = out.limit(5).collect()
    assert all(len(x.fp) == 32 for x in r)
    assert all(x.n_tokens > 0 for x in r)
    q = quality_score(docs)
    assert q.filter((F.col("quality") > 0) & (F.col("quality") <= 1)).count() == docs.count()


def test_multimodal_plumbing(spark, docs):
    media = to_media_frame(docs.limit(10), "doc_id", F.encode(F.col("text"), "utf-8"), "image")
    meta = extract_media_metadata(media)
    rows = meta.collect()
    assert len(rows) == 10
    assert all(r.n_bytes > 0 and 1 <= r.fake_width <= 640 and len(r.sha) == 64 for r in rows)
    frames = frame_sample_plan(media, every_ms=500)
    assert frames.count() >= 10
    assert frames.select(F.min("frame_ts_ms")).collect()[0][0] == 0


def test_media_header_parsers_roundtrip():
    """Encode->parse for every supported public container format, plus
    graceful unknown/truncated handling (pure Python, no Spark)."""
    from fluent_bit_spark.extensions.multimodal import (
        make_bmp, make_gif, make_jpeg, make_png, make_wav, parse_media_header,
    )

    png = parse_media_header(make_png(320, 200))
    assert (png["format"], png["width"], png["height"], png["channels"],
            png["bit_depth"]) == ("png", 320, 200, 3, 8)
    jpg = parse_media_header(make_jpeg(1920, 1080, channels=3))
    assert (jpg["format"], jpg["width"], jpg["height"], jpg["channels"]) == (
        "jpeg", 1920, 1080, 3)
    gif = parse_media_header(make_gif(16, 9))
    assert (gif["format"], gif["width"], gif["height"]) == ("gif", 16, 9)
    bmp = parse_media_header(make_bmp(640, 480))
    assert (bmp["format"], bmp["width"], bmp["height"], bmp["bit_depth"]) == (
        "bmp", 640, 480, 24)
    wav = parse_media_header(make_wav(2, 44100, 16, 44100))
    assert (wav["format"], wav["channels"], wav["sample_rate"],
            wav["bit_depth"], wav["duration_ms"]) == ("wav", 2, 44100, 16, 1000)
    # grayscale+alpha png color type
    ga = parse_media_header(make_png(8, 8, color_type=4))
    assert ga["channels"] == 2
    assert parse_media_header(b"")["format"] == "unknown"
    assert parse_media_header(b"garbage bytes")["format"] == "unknown"
    assert parse_media_header(make_png(9, 9)[:12])["format"] == "unknown"


def test_pixel_decoders_roundtrip():
    """Codec-free pixel decode (pure numpy, no Spark): BMP 24-bit with
    row padding, BMP 8-bit through the palette, binary PPM/PGM with
    header comments; truncated/compressed/codec-bound payloads -> None."""
    import struct

    import numpy as np

    from fluent_bit_spark.extensions.multimodal import (
        _decode_bmp_pixels, _decode_pnm_pixels, make_bmp_pixels, make_pgm,
        make_ppm,
    )

    rng = np.random.RandomState(11)
    # width 5 -> 15 row bytes -> pads to 16: exercises the stride logic
    rgb = rng.randint(0, 256, (3, 5, 3), dtype=np.uint8)
    w, h, nch, px = _decode_bmp_pixels(make_bmp_pixels(5, 3, rgb.tobytes()))
    assert (w, h, nch) == (5, 3, 3)
    assert np.array_equal(np.frombuffer(px, np.uint8).reshape(3, 5, 3), rgb)

    # 8-bit palette BMP: identity grayscale palette, bottom-up rows
    gray = rng.randint(0, 256, (2, 4), dtype=np.uint8)
    pal = b"".join(bytes([i, i, i, 0]) for i in range(256))
    rows = np.zeros((2, 4), dtype=np.uint8)
    rows[:] = gray[::-1]  # on-the-wire bottom-up
    dib = struct.pack("<IiiHHIIiiII", 40, 4, 2, 1, 8, 0, 8, 0, 0, 256, 0)
    data_off = 14 + 40 + 256 * 4
    hdr = b"BM" + struct.pack("<IHHI", data_off + 8, 0, 0, data_off)
    w, h, nch, px = _decode_bmp_pixels(hdr + dib + pal + rows.tobytes())
    assert (w, h, nch) == (4, 2, 1)
    assert np.array_equal(np.frombuffer(px, np.uint8).reshape(2, 4), gray)

    g = rng.randint(0, 256, (4, 6), dtype=np.uint8)
    assert _decode_pnm_pixels(make_pgm(6, 4, g.tobytes()))[3] == g.tobytes()
    c = rng.randint(0, 256, (4, 6, 3), dtype=np.uint8)
    assert _decode_pnm_pixels(make_ppm(6, 4, c.tobytes()))[3] == c.tobytes()
    # header comment tolerated
    commented = b"P5\n# a comment\n6 4\n255\n" + g.tobytes()
    assert _decode_pnm_pixels(commented)[:3] == (6, 4, 1)
    # failures: truncated raster, 16-bit maxval, codec-bound formats
    assert _decode_pnm_pixels(make_pgm(6, 4, g.tobytes())[:-5]) is None
    assert _decode_pnm_pixels(b"P5\n2 2\n65535\n" + b"\x00" * 8) is None
    assert _decode_bmp_pixels(b"BM" + b"\x00" * 20) is None
    # 8-bit corruptions must return None, not raise (the mid-scan
    # contract): palette truncated off the end of the buffer...
    short_pal = hdr + dib + pal[:64] + rows.tobytes()
    trunc = struct.pack("<IiiHHIIiiII", 40, 4, 2, 1, 8, 0, 8, 0, 0, 0, 0)
    short_hdr = b"BM" + struct.pack("<IHHI", 54 + 8, 0, 0, 54)
    assert _decode_bmp_pixels(short_hdr + trunc + rows.tobytes()) is None
    assert _decode_bmp_pixels(short_pal) is None
    # ...and pixel indexes past a small declared palette
    dib2 = struct.pack("<IiiHHIIiiII", 40, 4, 2, 1, 8, 0, 8, 0, 0, 2, 0)
    off2 = 14 + 40 + 2 * 4
    hdr2 = b"BM" + struct.pack("<IHHI", off2 + 8, 0, 0, off2)
    hot = np.full((2, 4), 7, dtype=np.uint8)  # index 7 >= ncolors 2
    assert _decode_bmp_pixels(hdr2 + dib2 + pal[:8] + hot.tobytes()) is None


def test_png_codec_roundtrip():
    """Stdlib-zlib PNG decode: LOSSLESS roundtrip for gray and RGB
    through every scanline filter type (None/Sub/Up/Average/Paeth),
    palette mapping to RGB, alpha dropping, and None for everything
    outside the envelope (low bit depth, truncated IDAT)."""
    import struct
    import zlib

    import numpy as np

    from fluent_bit_spark.extensions.multimodal import (
        _decode_png_pixels, make_png_pixels,
    )

    rng = np.random.RandomState(3)
    rgb = rng.randint(0, 256, (11, 7, 3), dtype=np.uint8)
    for filters in (None, [1], [2], [3], [4], [0, 1, 2, 3, 4]):
        got = _decode_png_pixels(
            make_png_pixels(7, 11, rgb.tobytes(), 3, filters=filters)
        )
        assert got[:3] == (7, 11, 3), filters
        assert got[3] == rgb.tobytes(), f"filter {filters} not lossless"
    g = rng.randint(0, 256, (5, 9), dtype=np.uint8)
    got = _decode_png_pixels(make_png_pixels(9, 5, g.tobytes(), 1, filters=[4]))
    assert got[:3] == (9, 5, 1) and got[3] == g.tobytes()

    def chunk(cid, data):
        return (struct.pack(">I", len(data)) + cid + data
                + struct.pack(">I", zlib.crc32(cid + data) & 0xFFFFFFFF))

    def png(ihdr_tail, chunks):
        ihdr = struct.pack(">II", 3, 2) + ihdr_tail
        return (b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr)
                + b"".join(chunks) + chunk(b"IEND", b""))

    # palette: 3x2 type-3 image, 2 palette entries -> RGB output
    pal = bytes([255, 0, 0, 0, 0, 255])
    idx = bytes([0, 0, 1, 0]) + bytes([0, 1, 0, 1])  # filter 0 + 3 px per row
    p = png(bytes([8, 3, 0, 0, 0]),
            [chunk(b"PLTE", pal), chunk(b"IDAT", zlib.compress(idx))])
    w, h, nch, px = _decode_png_pixels(p)
    assert (w, h, nch) == (3, 2, 3)
    assert px[:3] == bytes([255, 0, 0]) and px[3:6] == bytes([0, 0, 255])
    # RGBA: alpha drops to 3 channels
    rows = b"".join(
        bytes([0]) + bytes(v for _ in range(3) for v in (10, 20, 30, 99))
        for _ in range(2)
    )
    p4 = png(bytes([8, 6, 0, 0, 0]), [chunk(b"IDAT", zlib.compress(rows))])
    w, h, nch, px = _decode_png_pixels(p4)
    assert (w, h, nch) == (3, 2, 3) and px[:3] == bytes([10, 20, 30])
    # rejections: wrong-size interlaced stream, low bit depth, 16-bit
    # palette (spec-invalid), truncated inflate, out-of-range index
    assert _decode_png_pixels(png(bytes([8, 2, 0, 0, 1]),
        [chunk(b"IDAT", zlib.compress(b"\x00" * 20))])) is None
    assert _decode_png_pixels(png(bytes([4, 0, 0, 0, 0]),
        [chunk(b"IDAT", zlib.compress(b"\x00" * 20))])) is None
    assert _decode_png_pixels(png(bytes([16, 3, 0, 0, 0]),
        [chunk(b"PLTE", pal), chunk(b"IDAT", zlib.compress(b"\x00" * 20))])
    ) is None
    assert _decode_png_pixels(png(bytes([8, 2, 0, 0, 0]),
        [chunk(b"IDAT", zlib.compress(b"\x00" * 5))])) is None
    bad_idx = png(bytes([8, 3, 0, 0, 0]),
        [chunk(b"PLTE", pal), chunk(b"IDAT", zlib.compress(
            bytes([0, 0, 0, 7, 0, 0, 0, 0])))])
    assert _decode_png_pixels(bad_idx) is None


def test_png_interlaced_and_16bit_roundtrip():
    """Adam7 interlace + 16-bit depth (r9 verdict envelope edge #4):
    both decode LOSSLESSLY — each Adam7 pass unfilters as its own
    sub-image and scatters into place; 16-bit samples (fixture-widened
    v<<8|v) downsample to the high byte, recovering the 8-bit input
    exactly. Every geometry x filter x depth x interlace combination
    roundtrips; truncations never raise."""
    import numpy as np

    from fluent_bit_spark.extensions.multimodal import (
        _decode_png_pixels, make_png_pixels,
    )

    rng = np.random.RandomState(5)
    for w, h, ch in [(9, 8, 1), (16, 16, 3), (1, 1, 1), (7, 3, 3),
                     (2, 9, 1), (33, 21, 3), (8, 1, 1), (1, 8, 3)]:
        px = rng.randint(0, 256, (h, w, ch)).astype(np.uint8).tobytes()
        for interlace in (False, True):
            for depth in (8, 16):
                for filt in (None, [0, 1, 2, 3, 4]):
                    got = _decode_png_pixels(make_png_pixels(
                        w, h, px, ch, filters=filt,
                        interlace=interlace, bit_depth=depth,
                    ))
                    assert got is not None, (w, h, ch, interlace, depth)
                    assert got[:3] == (w, h, ch)
                    assert got[3] == px, (w, h, ch, interlace, depth, filt)
    b = make_png_pixels(
        16, 16, rng.randint(0, 256, (16, 16, 3)).astype(np.uint8).tobytes(),
        3, interlace=True, bit_depth=16,
    )
    for cut in range(0, len(b), 3):
        _decode_png_pixels(b[:cut])  # truncation never raises


def test_gif_lzw_codec_roundtrip():
    """Pure-Python GIF LZW decode: gray and RGB-palette images
    roundtrip losslessly (the fixture encoder emits a clear-code-per-
    pixel stream, exercising the dictionary-reset path on every
    symbol), interlaced rows deinterleave, header-only stubs and
    truncated payloads return None."""
    import numpy as np

    from fluent_bit_spark.extensions.multimodal import (
        _decode_gif_pixels, make_gif, make_gif_pixels,
    )

    rng = np.random.RandomState(31)
    g = rng.randint(0, 256, (10, 13), dtype=np.uint8)
    w, h, nch, px = _decode_gif_pixels(make_gif_pixels(13, 10, g.tobytes(), 1))
    assert (w, h, nch) == (13, 10, 3)
    rgb = np.frombuffer(px, np.uint8).reshape(10, 13, 3)
    assert np.array_equal(rgb[:, :, 0], g)          # identity gray palette
    assert np.array_equal(rgb[:, :, 1], g) and np.array_equal(rgb[:, :, 2], g)
    # interlaced: decoder must reorder the 4 passes back
    wi = _decode_gif_pixels(make_gif_pixels(13, 10, g.tobytes(), 1, interlace=True))
    assert wi[3] == px
    # RGB palette (few distinct colors)
    c = np.zeros((6, 4, 3), dtype=np.uint8)
    c[::2] = [200, 10, 30]
    c[1::2] = [5, 250, 125]
    got = _decode_gif_pixels(make_gif_pixels(4, 6, c.tobytes(), 3))
    assert got[:3] == (4, 6, 3) and got[3] == c.tobytes()
    # header-only stub (no frame) and truncation -> None
    assert _decode_gif_pixels(make_gif(7, 7)) is None
    full = make_gif_pixels(13, 10, g.tobytes(), 1)
    assert _decode_gif_pixels(full[: len(full) // 2]) is None


def test_gif_lzw_vectorized_paths_match_reference():
    """The vectorized trivial-stream encoder and the decode fast path are
    bit-identical to the reference per-symbol loop: (a) the encoder
    matches a literal reimplementation of the old put() loop on edge
    sizes, (b) the fast decode equals the general loop on trivial
    streams, and (c) a hand-built GENERAL stream (growing dictionary —
    code 258 references a table entry, a shape the fast path must
    reject) still decodes through the fallback loop."""
    import random

    from fluent_bit_spark.extensions.multimodal import (
        _gif_lzw_decode, _gif_lzw_decode_trivial, _gif_lzw_encode_trivial,
    )

    def ref_encode(indices):
        clear, end, code_size = 256, 257, 9
        acc = nbits = 0
        stream = bytearray()

        def put(code):
            nonlocal acc, nbits
            acc |= code << nbits
            nbits += code_size
            while nbits >= 8:
                stream.append(acc & 0xFF)
                acc >>= 8
                nbits -= 8

        for v in indices:
            put(clear)
            put(int(v))
        put(end)
        if nbits:
            stream.append(acc & 0xFF)
        sub = bytearray()
        for i in range(0, len(stream), 255):
            part = stream[i : i + 255]
            sub.append(len(part))
            sub += part
        sub.append(0)
        return bytes(sub)

    def unsub(sb):
        raw, i = bytearray(), 0
        while sb[i] != 0:
            ln = sb[i]
            raw += sb[i + 1 : i + 1 + ln]
            i += 1 + ln
        return bytes(raw)

    rng = random.Random(13)
    for n in [0, 1, 2, 3, 7, 8, 71, 72, 255, 256, 257, 1000]:
        data = bytes(rng.randrange(256) for _ in range(n))
        enc = _gif_lzw_encode_trivial(data)
        assert enc == ref_encode(data)
        raw = unsub(enc)
        assert _gif_lzw_decode_trivial(raw, max(n, 1)) == data
        assert _gif_lzw_decode(raw, 8, max(n, 1)) == data

    # general stream: clear, 'A', 'B', 258 (= 'AB' from the grown table)
    acc = nbits = 0
    out = bytearray()
    for c in [256, 65, 66, 258, 257]:
        acc |= c << nbits
        nbits += 9
        while nbits >= 8:
            out.append(acc & 0xFF)
            acc >>= 8
            nbits -= 8
    if nbits:
        out.append(acc & 0xFF)
    assert _gif_lzw_decode_trivial(bytes(out), 100) is None  # rejected
    assert _gif_lzw_decode(bytes(out), 8, 100) == b"ABAB"  # loop fallback


def test_jpeg_baseline_codec_roundtrip():
    """Pure-numpy baseline JPEG: constant-8x8-block images roundtrip
    EXACTLY at quality 100 (AC coefficients are exactly zero and the DC
    path loses nothing), smooth content stays within a small error at
    q90, restart markers reset predictors correctly, and everything
    outside the envelope (progressive, truncated, garbage) returns None
    instead of raising."""
    import numpy as np

    from fluent_bit_spark.extensions.multimodal import (
        _decode_jpeg_gray, decode_pixels, make_jpeg_pixels,
    )

    rng = np.random.RandomState(7)
    blocks = rng.randint(16, 240, (4, 5)).astype(np.uint8)
    img = np.kron(blocks, np.ones((8, 8), dtype=np.uint8))  # 32x40
    jb = make_jpeg_pixels(40, 32, img.tobytes(), quality=100)
    w, h, nch, px = _decode_jpeg_gray(jb)
    assert (w, h, nch) == (40, 32, 1)
    assert np.array_equal(np.frombuffer(px, np.uint8).reshape(32, 40), img)

    # restart markers: same image, DRI every 3 MCUs -> identical pixels
    jr = make_jpeg_pixels(40, 32, img.tobytes(), quality=100, restart_interval=3)
    assert _decode_jpeg_gray(jr)[3] == px

    # non-multiple-of-8 dims + smooth gradient at q90: small bounded error
    x = np.linspace(0, 255, 37)[None, :] * np.linspace(0.3, 1.0, 21)[:, None]
    img2 = x.astype(np.uint8)
    got2 = _decode_jpeg_gray(make_jpeg_pixels(37, 21, img2.tobytes(), quality=90))
    dec2 = np.frombuffer(got2[3], np.uint8).reshape(21, 37)
    assert np.abs(dec2.astype(int) - img2.astype(int)).max() <= 4

    # out-of-envelope payloads -> None, never an exception
    assert _decode_jpeg_gray(jb[:40]) is None                 # truncated
    assert _decode_jpeg_gray(b"\xff\xd8\xff\xee junk") is None
    arith = jb.replace(b"\xff\xc0", b"\xff\xc9", 1)           # arithmetic SOF
    assert _decode_jpeg_gray(arith) is None
    # SOF2 with a BASELINE scan header (Se=63 on a DC-start scan) is a
    # malformed progressive file, not a baseline one: still None
    bad_prog = jb.replace(b"\xff\xc0", b"\xff\xc2", 1)
    assert _decode_jpeg_gray(bad_prog) is None


def test_jpeg_progressive_codec_roundtrip():
    """Progressive JPEG (SOF2, spectral selection + successive
    approximation): the progressive encoding of an image decodes to
    EXACTLY the pixels of its baseline encoding at the same quality —
    both reconstruct identical quantized coefficients, so this is a
    bit-exact equivalence, not a tolerance check. Covers single- and
    multi-component (interleaved DC) files, EOBRUN-heavy smooth/constant
    content, and the filter-don't-crash contract over truncations and
    single-byte corruptions — r9 verdict task #7."""
    import numpy as np

    from fluent_bit_spark.extensions.multimodal import (
        _decode_jpeg_gray, make_jpeg_pixels, make_jpeg_progressive_pixels,
    )

    rng = np.random.RandomState(11)
    cases = [
        ((16, 16), 90, 1), ((17, 13), 75, 1), ((8, 8), 50, 1),
        ((24, 18), 90, 3), ((33, 9), 95, 3), ((1, 1), 90, 1),
        ((40, 40), 70, 3), ((9, 16), 100, 1),
    ]
    for (w, h), q, ch in cases:
        px = rng.randint(0, 256, (h, w)).astype(np.uint8).tobytes()
        base = _decode_jpeg_gray(make_jpeg_pixels(w, h, px, quality=q))
        prog = _decode_jpeg_gray(
            make_jpeg_progressive_pixels(w, h, px, quality=q, channels=ch)
        )
        assert prog is not None and prog[:3] == (w, h, 1)
        assert prog[3] == base[3], (w, h, q, ch)
    # EOBRUN-heavy paths: gradients and constants span many all-zero bands
    for w, h in [(32, 32), (48, 16)]:
        grad = np.tile(
            np.arange(w) * 255 // max(w - 1, 1), (h, 1)
        ).astype(np.uint8)
        for px in (grad.tobytes(), bytes(w * h)):
            for ch in (1, 3):
                b_ = make_jpeg_pixels(w, h, px, quality=90)
                p_ = make_jpeg_progressive_pixels(
                    w, h, px, quality=90, channels=ch
                )
                assert _decode_jpeg_gray(p_)[3] == _decode_jpeg_gray(b_)[3]
    # constant 8x8 blocks at q100 roundtrip EXACTLY (as baseline does)
    blocks = rng.randint(16, 240, (3, 4)).astype(np.uint8)
    img = np.kron(blocks, np.ones((8, 8), dtype=np.uint8))
    got = _decode_jpeg_gray(
        make_jpeg_progressive_pixels(32, 24, img.tobytes(), quality=100)
    )
    assert np.array_equal(
        np.frombuffer(got[3], np.uint8).reshape(24, 32), img
    )
    # filter-don't-crash: truncations + bit flips never raise
    px = rng.randint(0, 256, (18, 24)).astype(np.uint8).tobytes()
    p_ = make_jpeg_progressive_pixels(24, 18, px, quality=90, channels=3)
    for cut in range(0, len(p_), 5):
        _decode_jpeg_gray(p_[:cut])
    mut = bytearray(p_)
    for pos in range(20, len(mut), 13):
        mut[pos] ^= 0xFF
        _decode_jpeg_gray(bytes(mut))
        mut[pos] ^= 0xFF


def test_decode_pixels_jpeg_dispatch(spark):
    """decode_pixels routes JPEG payloads through the numpy decoder
    (format='jpeg', channels=1) while PNG stays the documented NULL-
    pixels gap."""
    import numpy as np

    from pyspark.sql import functions as F

    from fluent_bit_spark.extensions.multimodal import (
        decode_pixels, make_jpeg_pixels, make_png, to_media_frame,
    )

    g = np.kron(
        np.arange(20, 240, 30, dtype=np.uint8).reshape(1, 8),
        np.ones((8, 8), dtype=np.uint8),
    )  # 8x64 constant blocks
    df = spark.createDataFrame(
        [
            (1, bytearray(make_jpeg_pixels(64, 8, g.tobytes(), quality=100))),
            (2, bytearray(make_png(5, 5))),
        ],
        "media_id long, content binary",
    )
    media = to_media_frame(df, "media_id", F.col("content"), "image")
    rows = {r.media_id: r for r in decode_pixels(media).collect()}
    assert rows[1].format == "jpeg" and rows[1].channels == 1
    assert bytes(rows[1].pixels) == g.tobytes()
    assert rows[2].format == "png" and rows[2].pixels is None


def test_dhash_and_image_neardup_recall(spark):
    """dHash invariances + the banded near-dup join's recall proof: an
    exact seeded brute-force over all dHash pairs must equal the banded
    join's output for every pair within the Hamming radius (pigeonhole
    — band count = max_hamming + 1 partitions all 64 bits)."""
    import numpy as np

    from fluent_bit_spark.extensions.multimodal import (
        dhash64, image_neardup_join, make_pgm, to_media_frame,
    )
    from pyspark.sql import functions as F

    rng = np.random.RandomState(5)
    g = rng.randint(0, 256, (16, 18), dtype=np.uint8)
    assert 0 <= dhash64(g.tobytes(), 18, 16, 1) < (1 << 64)
    # uniform brightness shift (with headroom, no saturation clipping)
    # leaves every adjacent comparison — hence the hash — unchanged
    g2 = (g % 200).astype(np.uint8)
    assert dhash64((g2 + 30).astype(np.uint8).tobytes(), 18, 16, 1) == dhash64(
        g2.tobytes(), 18, 16, 1
    )

    # 60 random images: banded join == seeded brute force at radius 3
    imgs = []
    for i in range(60):
        px = rng.randint(0, 256, (8, 9), dtype=np.uint8)
        imgs.append((i, px))
        if i % 10 == 0:  # plant near-dups: force one comparison flip
            q = px.copy()
            q[3, 4] = 255 if px[3, 5] <= px[3, 4] else 0
            imgs.append((i + 500, q))
    hashes = {i: dhash64(p.tobytes(), 9, 8, 1) for i, p in imgs}
    brute = {
        (a, b): bin(hashes[a] ^ hashes[b]).count("1")
        for a in hashes
        for b in hashes
        if a < b and bin(hashes[a] ^ hashes[b]).count("1") <= 3
    }
    df = spark.createDataFrame(
        [(i, bytearray(make_pgm(9, 8, p.tobytes()))) for i, p in imgs],
        "media_id long, content binary",
    )
    media = to_media_frame(df, "media_id", F.col("content"), "image")
    got = {
        (r.id_a, r.id_b): r.hamming
        for r in image_neardup_join(media, max_hamming=3).collect()
    }
    assert got == brute          # exact: full recall AND no false pairs
    assert all((i, i + 500) in got for i, _ in imgs if i % 10 == 0 and i < 500)


def test_audio_fingerprint_and_neardup(spark):
    """WAV PCM decode + Haitsma-Kalker subfingerprints: volume
    invariance (the hash is a sign pattern of energy DIFFERENCES),
    stereo downmix, 8-bit support, short/garbage payloads; the near-dup
    join finds volume copies at BER 0 and suffix clips at the right
    alignment offset, and matches a seeded brute force over the same
    candidate rule."""
    import struct

    import numpy as np

    from pyspark.sql import functions as F

    from fluent_bit_spark.extensions.multimodal import (
        audio_neardup_join, audio_subfingerprints, decode_wav_samples,
        to_media_frame,
    )

    def pcm16(samples, rate=8000, nch=1):
        a = np.clip(np.asarray(samples), -32768, 32767).astype("<i2")
        data = a.tobytes()
        fmt = struct.pack("<HHIIHH", 1, nch, rate, rate * 2 * nch, 2 * nch, 16)
        return (b"RIFF" + struct.pack("<I", 36 + len(data)) + b"WAVE"
                + b"fmt " + struct.pack("<I", 16) + fmt
                + b"data" + struct.pack("<I", len(data)) + data)

    rng = np.random.RandomState(13)
    base = (rng.randn(8192) * 4000).astype(int)
    rate, x = decode_wav_samples(pcm16(base))
    assert rate == 8000 and len(x) == 8192
    fp = audio_subfingerprints(x)
    assert len(fp) == 6 and all(0 <= v < (1 << 32) for v in fp)
    # volume x2 is exact in int16 -> identical fingerprint
    assert audio_subfingerprints(decode_wav_samples(pcm16(base * 2))[1]) == fp
    # stereo interleave of the same mono signal downmixes to it
    stereo = np.repeat(base, 2)
    assert audio_subfingerprints(
        decode_wav_samples(pcm16(stereo, nch=2))[1]
    ) == fp
    # 8-bit decode path
    got8 = decode_wav_samples(
        b"RIFF" + struct.pack("<I", 36 + 4) + b"WAVE"
        + b"fmt " + struct.pack("<I", 16)
        + struct.pack("<HHIIHH", 1, 1, 8000, 8000, 1, 8)
        + b"data" + struct.pack("<I", 4) + bytes([128, 255, 0, 128])
    )
    assert got8[0] == 8000 and abs(got8[1][0]) < 1e-9
    # rejections: float PCM, truncation, garbage
    assert decode_wav_samples(b"RIFF----WAVEgarbage") is None
    assert decode_wav_samples(pcm16(base)[:50]) is None
    # fmt chunk DECLARES 16 bytes but the buffer ends inside it: must
    # return None (mid-scan contract), not raise struct.error
    trunc_fmt = (
        b"RIFF" + struct.pack("<I", 40) + b"WAVE"
        + b"JUNK" + struct.pack("<I", 12) + b"\x00" * 12
        + b"fmt " + struct.pack("<I", 16) + b"\x00" * 8
    )
    assert len(trunc_fmt) >= 44
    assert decode_wav_samples(trunc_fmt) is None
    assert audio_subfingerprints(x[:100]) == []

    # near-dup join: volume copies + a suffix clip, vs brute force
    clips = []
    for i in range(12):
        s = (rng.randn(8192) * 4000).astype(int)
        clips.append((i, s))
        if i % 4 == 0:
            clips.append((i + 100, s * 2))           # volume copy
    clips.append((500, clips[0][1][2048:]))          # suffix: offset -2
    df = spark.createDataFrame(
        [(i, bytearray(pcm16(s))) for i, s in clips],
        "media_id long, content binary",
    )
    media = to_media_frame(df, "media_id", F.col("content"), "audio")
    got = {
        (r.id_a, r.id_b): (r.offset, r.ber)
        for r in audio_neardup_join(media, max_ber=0.25).collect()
    }
    fps = {i: audio_subfingerprints(decode_wav_samples(pcm16(s))[1]) for i, s in clips}
    brute = {}
    for a in fps:
        for b in fps:
            if a >= b:
                continue
            best = None
            for ia, sa in enumerate(fps[a]):
                for ib, sb in enumerate(fps[b]):
                    if sa != sb:
                        continue
                    off = ib - ia
                    ai, bi = max(0, -off), max(0, off)
                    n = min(len(fps[a]) - ai, len(fps[b]) - bi)
                    bits = sum(
                        bin(fps[a][ai + k] ^ fps[b][bi + k]).count("1")
                        for k in range(n)
                    )
                    ber = bits / (n * 32.0)
                    if ber <= 0.25 and (best is None or ber < best[1]):
                        best = (off, ber)
            if best is not None:
                brute[(a, b)] = best
    assert set(got) == set(brute)
    # exact BER agreement with brute force at the emitted offset: the
    # join keeps one (pair, offset) row per matching alignment, so
    # compare against the brute BER computed at THAT offset
    for (ia, ib), (off, ber) in got.items():
        fa_, fb_ = fps[ia], fps[ib]
        ai, bi = max(0, -off), max(0, off)
        n = min(len(fa_) - ai, len(fb_) - bi)
        bits = sum(
            bin(fa_[ai + i] ^ fb_[bi + i]).count("1") for i in range(n)
        )
        assert abs(ber - round(bits / (n * 32.0), 6)) < 1e-9, (ia, ib, off)
    assert got[(0, 100)] == (0, 0.0) and got[(4, 104)] == (0, 0.0)
    assert (0, 500) in got and got[(0, 500)][0] == -2 and got[(0, 500)][1] == 0.0

    # hot-bucket stop-list: a generous cap is a no-op; cap=1 skips every
    # shared sub (shared means freq >= 2), so no probes survive at all
    loose = {
        (r.id_a, r.id_b)
        for r in audio_neardup_join(media, max_ber=0.25, max_bucket=10_000).collect()
    }
    assert loose == set(got)
    assert audio_neardup_join(media, max_ber=0.25, max_bucket=1).count() == 0


def test_audio_neardup_energy_gate(spark):
    """energy_floor probe gating (the Haitsma-Kalker silence practice):
    near-constant clips — whose sign patterns are shared numerical
    noise and mint hot buckets — stop probing, so silent-silent pairs
    vanish, while energetic pairs keep their exact BER. A floor of 0
    gates nothing."""
    import struct

    import numpy as np

    from fluent_bit_spark.extensions.multimodal import (
        audio_neardup_join, to_media_frame,
    )
    from pyspark.sql import functions as F

    def pcm16(samples, rate=8000):
        a = np.clip(np.asarray(samples), -32768, 32767).astype("<i2")
        data = a.tobytes()
        fmt = struct.pack("<HHIIHH", 1, 1, rate, rate * 2, 2, 16)
        return (b"RIFF" + struct.pack("<I", 36 + len(data)) + b"WAVE"
                + b"fmt " + struct.pack("<I", 16) + fmt
                + b"data" + struct.pack("<I", len(data)) + data)

    rng = np.random.RandomState(19)
    clips = []
    for i in range(4):                                   # energetic noise
        clips.append((i, (rng.randn(8192) * 4000).astype(int)))
    clips.append((100, clips[0][1] * 2))                 # planted dup of 0
    # near-constant clips: per-clip DC offset + an IDENTICAL tiny ripple
    # (amplitude 5 of 32768 ~ -76 dBFS AC) -> identical subfingerprints
    # across all of them: a deterministic hot bucket
    ripple = (5 * np.sin(np.arange(8192) * 0.05)).astype(int)
    for j, dc in enumerate([1000, 2000, 3000, 4000, 5000]):
        clips.append((200 + j, dc + ripple))
    df = spark.createDataFrame(
        [(i, bytearray(pcm16(s))) for i, s in clips],
        "media_id long, content binary",
    )
    media = to_media_frame(df, "media_id", F.col("content"), "audio")

    def pairs(**kw):
        return {
            (r.id_a, r.id_b): (r.offset, r.ber)
            for r in audio_neardup_join(media, max_ber=0.25, **kw).collect()
        }

    ungated = pairs()
    silent_pairs = {p for p in ungated if p[0] >= 200 and p[1] >= 200}
    assert len(silent_pairs) == 10                       # all C(5,2) collide
    assert ungated[(0, 100)] == (0, 0.0)
    gated = pairs(energy_floor=1e-3)
    assert not {p for p in gated if p[0] >= 200 or p[1] >= 200}
    assert gated[(0, 100)] == (0, 0.0)                   # BER math unchanged
    assert pairs(energy_floor=0.0) == ungated
    import pytest

    with pytest.raises(ValueError, match="energy_floor"):
        audio_neardup_join(media, energy_floor=-0.1)


def test_extract_media_headers_spark(spark, docs):
    from fluent_bit_spark.extensions.multimodal import extract_media_headers, make_gif

    rows = [(i, "image", bytearray(make_gif(i + 1, 2 * i + 1))) for i in range(5)]
    media = spark.createDataFrame(rows, "media_id long, kind string, content binary")
    out = {r.media_id: r for r in extract_media_headers(media).collect()}
    assert all(out[i].format == "gif" and out[i].width == i + 1
               and out[i].height == 2 * i + 1 for i in range(5))


def test_redact_pii(spark):
    from pyspark.sql import Row
    from pyspark.sql import functions as F

    from fluent_bit_spark.extensions.text import pii_flags, redact_pii

    df = spark.createDataFrame([
        Row(t="mail bob@corp.io from 192.168.0.1 ssn 123-45-6789"),
        Row(t="clean text, no pii at all"),
    ])
    out = df.select(
        redact_pii(F.col("t")).alias("r"), pii_flags(F.col("t")).alias("f")
    ).collect()
    assert out[0].r == "mail [REDACTED:email] from [REDACTED:ipv4] ssn [REDACTED:ssn]"
    assert out[0].f == ["email", "ssn", "ipv4"]
    assert out[1].r == out[1].r and out[1].f == []


def test_ivf_topk_matches_bruteforce_top1(spark):
    from pyspark.sql import functions as F

    from fluent_bit_spark.extensions.similarity import cosine_topk, ivf_topk
    from fluent_bit_spark.model import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings").withColumn(
        "embedding", F.transform(F.col("embedding"), lambda x: x.cast("double"))
    )
    queries = emb.filter(F.col("vec_id").isin([0, 1])).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    exact = {
        r.query_id: r.vec_id
        for r in cosine_topk(emb, queries, k=1).collect()
    }
    approx = ivf_topk(emb, queries, k=5, n_centroids=8, nprobe=4).collect()
    got = {r.query_id: r.vec_id for r in approx if r.rank == 1}
    # the query vector itself lives in some probed list and must win
    assert got == exact


def test_ann_persisted_index_roundtrip(spark, tmp_path):
    """The build-once/serve-many split for vector retrieval: IVF and PQ
    indexes save to parquet, reload, and serve ROW-IDENTICAL to serving
    from the in-memory build; the IVF serve plan scans the persisted
    cid-partitioned lists (not the corpus), and the layout on disk is
    one directory per inverted list."""
    import os

    from pyspark.sql import functions as F

    from fluent_bit_spark.extensions import versioned_store
    from fluent_bit_spark.extensions.similarity import (
        ivf_index, ivf_index_load, ivf_index_save, ivf_topk_indexed,
        pq_index, pq_index_load, pq_index_save, pq_topk_indexed,
    )
    from fluent_bit_spark.model import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings").withColumn(
        "embedding", F.transform(F.col("embedding"), lambda x: x.cast("double"))
    )
    queries = emb.filter(F.col("vec_id").isin([0, 1, 2])).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )

    ivf = ivf_index(emb, n_centroids=8, iters=2)
    ivf_index_save(ivf, str(tmp_path / "ivf"))
    loaded = ivf_index_load(spark, str(tmp_path / "ivf"))
    assert loaded["centroids"] == ivf["centroids"]  # exact double roundtrip
    key = lambda rows: [(r.query_id, r.vec_id, r.rank, round(r.cos, 9)) for r in rows]
    mem = ivf_topk_indexed(ivf, queries, k=5, nprobe=3).orderBy("query_id", "rank")
    srv = ivf_topk_indexed(loaded, queries, k=5, nprobe=3).orderBy("query_id", "rank")
    assert key(srv.collect()) == key(mem.collect())
    # serve plan reads the persisted lists; one dir per inverted list
    ivf_live = versioned_store.live_dir(spark, str(tmp_path / "ivf"))
    assert any(f"{ivf_live}/lists" in f for f in srv.inputFiles())
    subdirs = {d for d in os.listdir(f"{ivf_live}/lists") if d.startswith("cid=")}
    assert len(subdirs) == 8

    pq = pq_index(emb, m=8, ksub=16, iters=2, sample=256)
    pq_index_save(pq, str(tmp_path / "pq"))
    ploaded = pq_index_load(spark, str(tmp_path / "pq"))
    assert ploaded["codebooks"] == pq["codebooks"]
    pkey = lambda rows: [(r.query_id, r.vec_id, r.rank, round(r.adist, 9)) for r in rows]
    pmem = pq_topk_indexed(pq, queries, k=5).orderBy("query_id", "rank")
    psrv = pq_topk_indexed(ploaded, queries, k=5).orderBy("query_id", "rank")
    assert pkey(psrv.collect()) == pkey(pmem.collect())
    # distributed serve form agrees too (chunked broadcast join path)
    pdist = pq_topk_indexed(ploaded, queries, k=5, distributed=True, num_chunks=2)
    assert pkey(pdist.orderBy("query_id", "rank").collect()) == pkey(pmem.collect())

    # incremental append: build on half, append the rest against the
    # SAME centroids -> serving equals an index built from those
    # centroids over the full corpus (no re-clustering, no coordination)
    from fluent_bit_spark.extensions.similarity import (
        assign_clusters, ivf_index_append,
    )

    half_a = emb.filter(F.col("vec_id") % 2 == 0)
    half_b = emb.filter(F.col("vec_id") % 2 == 1)
    part = ivf_index(half_a, n_centroids=8, iters=2)
    ivf_index_save(part, str(tmp_path / "ivf_inc"))
    n_new = ivf_index_append(
        spark, str(tmp_path / "ivf_inc"), half_b.select("vec_id", "embedding")
    )
    assert n_new == half_b.count()
    grown = ivf_index_load(spark, str(tmp_path / "ivf_inc"))
    served = ivf_topk_indexed(grown, queries, k=5, nprobe=3)
    ref_index = {
        "centroids": part["centroids"],
        "lists": assign_clusters(
            emb.select("vec_id", "embedding"), part["centroids"], "embedding"
        ),
        "n_centroids": 8, "id_col": "vec_id", "vec_col": "embedding",
    }
    expect = ivf_topk_indexed(ref_index, queries, k=5, nprobe=3)
    assert key(served.orderBy("query_id", "rank").collect()) == key(
        expect.orderBy("query_id", "rank").collect()
    )
    import pytest as _pytest2

    with _pytest2.raises(ValueError, match="lacks the index's columns"):
        ivf_index_append(
            spark, str(tmp_path / "ivf_inc"),
            half_b.select(F.col("vec_id").alias("other_id"), "embedding"),
        )

    # PQ append: encode-against-existing-codebooks -> serving equals an
    # index built from those codebooks over the union corpus (ADC
    # distances depend only on codebooks + codes)
    from fluent_bit_spark.extensions.similarity import (
        pq_encode, pq_index_append,
    )

    pq_part = pq_index(half_a, m=8, ksub=16, iters=2, sample=256)
    pq_index_save(pq_part, str(tmp_path / "pq_inc"))
    pn = pq_index_append(
        spark, str(tmp_path / "pq_inc"), half_b.select("vec_id", "embedding")
    )
    assert pn == half_b.count()
    pq_grown = pq_index_load(spark, str(tmp_path / "pq_inc"))
    pq_ref = {
        "codebooks": pq_part["codebooks"],
        "codes": pq_encode(
            emb.select("vec_id", "embedding"), pq_part["codebooks"],
            "vec_id", "embedding",
        ),
        "m": 8, "ksub": 16, "id_col": "vec_id", "vec_col": "embedding",
    }
    assert pkey(
        pq_topk_indexed(pq_grown, queries, k=5).orderBy("query_id", "rank").collect()
    ) == pkey(
        pq_topk_indexed(pq_ref, queries, k=5).orderBy("query_id", "rank").collect()
    )
    with _pytest2.raises(ValueError, match="lacks the index's columns"):
        pq_index_append(
            spark, str(tmp_path / "pq_inc"),
            half_b.select(F.col("vec_id").alias("other_id"), "embedding"),
        )

    # a truncated codebook table must fail loudly, not serve garbage
    import pytest as _pytest

    pq_live = versioned_store.live_dir(spark, str(tmp_path / "pq"))
    spark.read.parquet(f"{pq_live}/codebooks").filter(
        "NOT (sub = 0 AND code = 0)"
    ).write.mode("overwrite").parquet(str(tmp_path / "pq2" / "codebooks"))
    spark.read.parquet(f"{pq_live}/meta").write.parquet(
        str(tmp_path / "pq2" / "meta")
    )
    spark.read.parquet(f"{pq_live}/codes").write.parquet(
        str(tmp_path / "pq2" / "codes")
    )
    with _pytest.raises(ValueError, match="missing entries"):
        pq_index_load(spark, str(tmp_path / "pq2"))


def test_ml_inference_stub_model(spark):
    """predict_batch_udf plumbing: executor-cached stub model, tensor
    batching, threshold classify — scores match a local numpy run."""
    import numpy as np
    from fluent_bit_spark.extensions.inference import predict_batch, stub_weights
    from fluent_bit_spark.model import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings").limit(50)
    out = predict_batch(emb, "embedding", dim=64, threshold=0.5, batch_size=16)
    rows = out.select("vec_id", "embedding", "score", "predicted").collect()
    w = stub_weights(64)
    for r in rows:
        local = 1.0 / (1.0 + np.exp(-(np.asarray(r.embedding, dtype=np.float64) @ w)))
        assert abs(r.score - local) < 1e-9
        assert r.predicted == (r.score > 0.5)


def test_ml_inference_tf_gate(spark):
    """The TFLite loader raises ImportError without TF installed."""
    import pytest as _pytest
    from fluent_bit_spark.extensions.inference import make_tf_predict_fn

    with _pytest.raises(ImportError):
        make_tf_predict_fn("/nonexistent/model.tflite")()


def test_ml_inference_npz_mlp(spark, tmp_path):
    """Serialized-model path end-to-end: write an .npz MLP checkpoint, load
    it through predict_batch_udf, and match a local numpy forward pass."""
    import numpy as np
    from fluent_bit_spark.extensions.inference import (
        make_demo_mlp, make_npz_mlp_predict_fn, predict_batch, save_mlp_npz,
    )
    from fluent_bit_spark.model import load_table

    path = str(tmp_path / "mlp.npz")
    layers = make_demo_mlp(64, 4)
    save_mlp_npz(path, layers)

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings").limit(50)
    out = predict_batch(
        emb, "embedding", dim=64, make_predict_fn=make_npz_mlp_predict_fn(path)
    )
    (w0, b0), (w1, b1) = layers
    for r in out.select("vec_id", "embedding", "score").collect():
        x = np.asarray(r.embedding, dtype=np.float64)
        h = np.maximum(x @ w0 + b0, 0.0)
        local = 1.0 / (1.0 + np.exp(-(h @ w1 + b1)))[0]
        assert abs(r.score - local) < 1e-9


def test_dedup_udfs_tolerate_null_text_and_embeddings(spark):
    """NULL text/embedding rows must not crash the Arrow batch (ADVICE r1):
    they hash as empty input instead."""
    from fluent_bit_spark.extensions.dedup import minhash_signatures, simhash
    from fluent_bit_spark.extensions.similarity import hyperplane_buckets_batch

    docs = spark.createDataFrame(
        [(1, "alpha beta gamma delta"), (2, None), (3, "")],
        "doc_id bigint, text string",
    )
    sigs = {r.doc_id: r.sig for r in minhash_signatures(docs, repartition=None).collect()}
    assert len(sigs) == 3 and all(len(s) == 32 for s in sigs.values())
    sh = {r.doc_id: r.simhash for r in simhash(docs).collect()}
    assert sh[2] == 0
    emb = spark.createDataFrame(
        [(1, [1.0] * 8), (2, None)], "vec_id bigint, embedding array<double>"
    )
    out = emb.select(
        "vec_id", hyperplane_buckets_batch(F.col("embedding"), dim=8, nbits=4, tables=2).alias("b")
    ).collect()
    got = {r.vec_id: r.b for r in out}
    assert len(got[1]) == 2 and got[2] == [0, 0]  # zero-vector bucket


def test_repetition_signals(spark):
    """Gopher-style repetition screens: hand-computed expectations on
    synthetic docs covering dup lines, degenerate repeats, short docs,
    empty text, and docs with no newlines."""
    from fluent_bit_spark.extensions.text import repetition_signals

    docs = spark.createDataFrame(
        [
            # 4 lines, "spam spam" repeated: heavy duplication
            (1, "spam spam\nspam spam\nham eggs\nspam spam"),
            # unique lines, no repeated grams
            (2, "alpha beta\ngamma delta"),
            # single word: no 2-grams at all
            (3, "word"),
            # empty text
            (4, ""),
            # one line, internally repetitive ("ab ab ab ab ab")
            (5, "ab ab ab ab ab"),
        ],
        "doc_id bigint, text string",
    )
    out = {r.doc_id: r for r in repetition_signals(docs, gram_n=2, rep_n=2).collect()}

    r1 = out[1]
    assert r1.n_lines == 4
    # 4 line slots, 2 distinct -> 1 - 2/4
    assert r1.dup_line_frac == pytest.approx(0.5)
    # "spam spam" (9 chars) x3 duplicated, "ham eggs" (8) unique
    assert r1.dup_line_char_frac == pytest.approx(27 / 35)
    # normalized = "spam spam spam spam ham eggs spam spam" (38 chars);
    # top 2-gram "spam spam" occurs 4x (overlapping), 9 chars -> 36/38
    assert r1.top_gram_char_frac == pytest.approx(36 / 38)

    r2 = out[2]
    assert r2.dup_line_frac == 0.0 and r2.dup_line_char_frac == 0.0
    assert r2.rep_gram_char_frac == 0.0

    r3 = out[3]
    assert r3.n_lines == 1 and r3.top_gram_char_frac == 0.0  # no 2-grams

    r4 = out[4]
    assert r4.n_lines == 0 and r4.top_gram_char_frac == 0.0

    r5 = out[5]
    # "ab ab" occurs 4x overlapping, len 5, chars 14 -> 20/14
    assert r5.top_gram_char_frac == pytest.approx(20 / 14)
    assert r5.rep_gram_char_frac == pytest.approx(20 / 14)


def test_decontaminate(spark):
    """8-gram overlap flags the verbatim copy and the doc embedding a
    benchmark passage; clean and short docs pass."""
    from fluent_bit_spark.extensions.decontam import decontaminate

    passage = "the quick brown fox jumps over the lazy dog tonight"
    corpus = spark.createDataFrame(
        [
            (1, passage),                                   # verbatim copy
            (2, "intro words here " + passage + " outro"),  # embeds passage
            (3, "a completely different document about spark execution plans"),
            (4, "too short"),                               # < 8 words
        ],
        "doc_id bigint, text string",
    )
    bench = spark.createDataFrame([(100, passage)], "doc_id bigint, text string")
    out = {r.doc_id: r for r in decontaminate(corpus, bench, n=8, min_hits=1).collect()}
    assert out[1].contaminated and out[1].contam_hits == 3  # 10 words -> 3 distinct 8-grams
    assert out[2].contaminated and out[2].contam_hits == 3
    assert not out[3].contaminated and out[3].contam_hits == 0
    assert not out[4].contaminated


def test_connected_components(spark):
    """Hash-min label propagation: chain, triangle, and an isolated pair
    resolve to min-id components; unpaired docs keep themselves."""
    from fluent_bit_spark.extensions.graph import connected_components, dedup_clusters

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4),      # chain 1-2-3-4
         (10, 11), (11, 12), (10, 12),  # triangle
         (20, 21)],                     # pair
        "id_a bigint, id_b bigint",
    )
    comp = {r.id: r.component for r in connected_components(pairs).collect()}
    assert comp == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 12: 10, 20: 20, 21: 20}

    docs = spark.createDataFrame(
        [(i, f"doc {i}") for i in [1, 2, 3, 4, 10, 11, 12, 20, 21, 99]],
        "doc_id bigint, text string",
    )
    out = {r.doc_id: r for r in dedup_clusters(docs, pairs).collect()}
    assert out[99].component == 99 and out[99].is_representative
    assert out[4].component == 1 and not out[4].is_representative
    assert out[1].is_representative
    assert sum(1 for r in out.values() if r.is_representative) == 4  # {1},{10},{20},{99}


def test_connected_components_alternating_vs_labelprop(spark):
    """Large-star/small-star and frontier label propagation compute the
    identical min-reachable-id fixpoint on an adversarial mix: a long
    path (diameter stress), a star, a clique, binary-tree-ish merges,
    and a seeded random graph cross-checked against plain union-find."""
    import random

    from fluent_bit_spark.extensions.graph import connected_components

    rng = random.Random(7)
    edges = [(i, i + 1) for i in range(100, 140)]            # path, diam 40
    edges += [(500, 500 + i) for i in range(1, 20)]          # star
    edges += [(600 + a, 600 + b) for a in range(8) for b in range(a)]  # clique
    edges += [(rng.randrange(50), rng.randrange(50)) for _ in range(60)]
    edges = [(a, b) for a, b in edges if a != b]

    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    expected = {n: find(n) for n in parent}
    # union-find roots are join-order-dependent; normalize to component min
    comp_min = {}
    for n, r in expected.items():
        comp_min[r] = min(comp_min.get(r, n), n)
    expected = {n: comp_min[r] for n, r in expected.items()}

    pairs = spark.createDataFrame(edges, "id_a bigint, id_b bigint")
    alt = {r.id: r.component for r in connected_components(pairs).collect()}
    lp = {
        r.id: r.component
        for r in connected_components(pairs, algorithm="labelprop", max_iter=60).collect()
    }
    assert alt == expected
    assert lp == expected


def test_domain_mix(spark, docs):
    """Deterministic per-domain thinning: rates respected within hash
    granularity, stable across runs, rate 1.0 and 0.0 exact."""
    from fluent_bit_spark.extensions.mixing import domain_mix

    full = docs.count()
    en = docs.filter(F.col("lang") == "en").count()
    out1 = domain_mix(docs, "lang", {"en": 0.5}, default_rate=1.0)
    out2 = domain_mix(docs, "lang", {"en": 0.5}, default_rate=1.0)
    assert out1.count() == out2.count()  # no RNG
    kept_en = out1.filter(F.col("lang") == "en").count()
    assert 0.2 * en <= kept_en <= 0.8 * en          # roughly half
    assert out1.filter(F.col("lang") != "en").count() == full - en  # untouched
    assert domain_mix(docs, "lang", {"en": 0.0}).filter(F.col("lang") == "en").count() == 0
    assert domain_mix(docs, "lang", {}).count() == full


def test_mix_weights_temperature(spark, docs):
    from fluent_bit_spark.extensions.mixing import mix_weights_temperature

    flat = {r.strata: r for r in mix_weights_temperature(docs, "lang", tau=1.0).collect()}
    # tau=1: target == observed -> every keep_rate 1
    assert all(abs(r.keep_rate - 1.0) < 1e-9 for r in flat.values())

    t0 = {r.strata: r for r in mix_weights_temperature(docs, "lang", tau=0.0).collect()}
    # tau=0: uniform target -> smallest domain upweights most (rate 1.0)
    smallest = min(t0.values(), key=lambda r: r.n)
    assert abs(smallest.keep_rate - 1.0) < 1e-9
    biggest = max(t0.values(), key=lambda r: r.n)
    assert abs(biggest.keep_rate - smallest.n / biggest.n) < 1e-9


def test_c4_line_signals_and_clean(spark):
    """C4 cleaning rules (Raffel et al. 2020 §2.2): terminal punctuation,
    min words, boilerplate phrases, doc-level brace / lorem-ipsum drops."""
    from pyspark.sql import functions as F

    from fluent_bit_spark.extensions.text import c4_clean, c4_line_signals

    docs = spark.createDataFrame(
        [
            (1, 'good sentence with enough words here.\nshort.\nthis page uses cookies ok yes.\nno punct at all'),
            (2, 'function f() { return 1; }\nfine long sentence right here today.'),
            (3, 'Lorem ipsum dolor sit amet, consectetur adipiscing elit.'),
        ],
        "doc_id long, text string",
    )
    sig = c4_line_signals(docs)
    rows = {(r.doc_id, r.line_no): r for r in sig.collect()}
    assert rows[(1, 0)].keep is True
    assert rows[(1, 1)].keep is False    # < 5 words
    assert rows[(1, 2)].keep is False    # "uses cookies"
    assert rows[(1, 3)].keep is False    # no terminal punctuation
    assert rows[(2, 1)].keep is True and rows[(2, 1)].doc_has_brace is True
    assert rows[(3, 0)].doc_has_lorem is True

    clean = {r.doc_id: r for r in c4_clean(docs).collect()}
    assert set(clean) == {1}             # 2 dropped (brace), 3 dropped (lorem)
    assert clean[1].clean_text == "good sentence with enough words here."
    assert clean[1].n_kept_lines == 1


def test_pq_ann_recall_vs_brute_force(spark):
    """Product quantization (Jegou et al. 2011): train/encode/ADC-scan.
    On well-separated synthetic clusters the PQ top-1 must agree with
    exact search, and codes must be valid (m entries in [0, ksub))."""
    import numpy as np

    from pyspark.sql import functions as F

    from fluent_bit_spark.extensions.similarity import (
        cosine_topk, pq_encode, pq_topk, pq_train,
    )

    rng = np.random.RandomState(7)
    centers = rng.randn(4, 16) * 10
    rows = []
    for i in range(200):
        c = i % 4
        rows.append((i, (centers[c] + rng.randn(16) * 0.05).tolist()))
    corpus = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    books = pq_train(corpus, m=4, ksub=8, iters=4, sample=200)
    assert len(books) == 4 and len(books[0]) == 8 and len(books[0][0]) == 4

    codes = pq_encode(corpus, books)
    crow = codes.collect()[0]
    assert len(crow.codes) == 4 and all(0 <= c < 8 for c in crow.codes)

    queries = corpus.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    got = pq_topk(codes, queries, books, k=5)
    exact = cosine_topk(corpus, queries, k=5)
    g1 = {r.query_id: r.vec_id for r in got.filter("rank = 1").collect()}
    # ADC top-1 must land in the query's own cluster (ids ≡ query mod 4)
    assert all(v % 4 == q % 4 for q, v in g1.items())
    e_sets = {}
    for r in exact.collect():
        e_sets.setdefault(r.query_id, set()).add(r.vec_id % 4)
    assert all(e_sets[q] == {q % 4} for q in g1)


def test_pq_topk_join_distributed_matches_collect_path(spark):
    """pq_topk_join must (1) agree with the driver-collect pq_topk on the
    same inputs, (2) execute a >10k-row query set WITHOUT collecting
    query vectors to the driver, with broadcast chunk joins — never a
    shuffle CartesianProduct; and pq_topk itself must refuse a query set
    over its driver guard instead of OOMing."""
    import numpy as np
    import pytest

    from pyspark.sql import functions as F

    from fluent_bit_spark.extensions.similarity import (
        pq_encode, pq_topk, pq_topk_join, pq_train,
    )

    rng = np.random.RandomState(11)
    rows = [(i, rng.randn(8).tolist()) for i in range(60)]
    corpus = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    books = pq_train(corpus, m=4, ksub=8, iters=3, sample=60)
    codes = pq_encode(corpus, books)

    small_q = corpus.filter(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    a = {(r.query_id, r.rank): (r.vec_id, round(r.adist, 9))
         for r in pq_topk(codes, small_q, books, k=3).collect()}
    b = {(r.query_id, r.rank): (r.vec_id, round(r.adist, 9))
         for r in pq_topk_join(codes, small_q, books, k=3, num_chunks=2).collect()}
    assert a == b

    # >10k queries, never collected: derive them distributively from range()
    base = F.array(*[F.lit(float(x)) for x in rng.randn(8)])
    big_q = spark.range(12_000).select(
        F.col("id").alias("query_id"),
        F.transform(base, lambda v, i: v + F.col("id") % 7).alias("query_vec"),
    )
    out = pq_topk_join(codes, big_q, books, k=2, target_chunk_bytes=2 << 20)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" in plan
    assert out.count() == 12_000 * 2

    with pytest.raises(ValueError, match="pq_topk_join"):
        pq_topk(codes, big_q, books, k=2, max_driver_queries=1000)


def test_gopher_quality_rules(spark):
    """Gopher A1.1 heuristics: each rule trips on its own pathology."""
    from fluent_bit_spark.extensions.text import gopher_quality

    good = ("the data we have to work with is good and clean prose that " * 6).strip()
    docs = spark.createDataFrame(
        [
            (1, good),                                    # passes everything
            (2, "too short to have fifty words the end"),  # word count
            (3, good + " " + "#" * 1 + " ## # # # # # # #"),  # symbols
            (4, "\n".join(["- bullet item the and of to be that have with ok"] * 60)),  # bullets
            (5, good.replace("prose", "1234 5678 9999 0000 1111 2222 3333 4444 5555 6666 7777 8888")),
            (6, ("zz " * 60).strip()),                     # no stopwords, short words
        ],
        ["doc_id", "text"],
    )
    rows = {r.doc_id: r for r in gopher_quality(docs).collect()}
    assert rows[1].keep is True
    assert rows[2].r_word_count is False and rows[2].keep is False
    assert rows[3].r_symbol_ratio is False
    assert rows[4].r_bullet_lines is False           # 100% bullet lines
    assert rows[5].r_alpha_words is False            # digit tokens dilute
    assert rows[6].r_stopwords is False and rows[6].r_mean_word_len is False


def test_url_normalize_and_filter_dedup(spark):
    from pyspark.sql import functions as F

    from fluent_bit_spark.extensions.urls import (
        registrable_domain, url_filter_dedup, url_normalize,
    )

    cases = spark.createDataFrame(
        [
            (1, "HTTPS://WWW.Ex.COM:443/a/b/?z=1&utm_source=x&a=2#f"),
            (2, "http://ex.com:8080"),
            (3, "http://ex.com/?utm_campaign=only"),
            (4, "not a url"),
            (5, "https://sub.news.co.uk/story/"),
        ],
        ["doc_id", "url"],
    )
    got = {
        r.doc_id: (r.n, r.d)
        for r in cases.select(
            "doc_id",
            url_normalize(F.col("url")).alias("n"),
            registrable_domain(F.col("url")).alias("d"),
        ).collect()
    }
    assert got[1] == ("https://www.ex.com/a/b?a=2&z=1", "ex.com")  # port/frag/utm gone, params sorted
    assert got[2] == ("http://ex.com:8080/", "ex.com")             # non-default port kept, root path
    assert got[3] == ("http://ex.com/", "ex.com")                  # all-tracking query -> none
    assert got[4][0] == ""                                         # unparseable -> empty
    assert got[5] == ("https://sub.news.co.uk/story", "co.uk")     # documented PSL approximation

    dups = spark.createDataFrame(
        [
            (10, "https://A.com/x/"),
            (11, "HTTPS://a.COM/x"),          # same canonical as 10
            (12, "https://bad.com/x"),
            (13, "nope"),
        ],
        ["doc_id", "url"],
    )
    kept = sorted(
        r.doc_id for r in url_filter_dedup(dups, blocklist=("bad.com",)).collect()
    )
    assert kept == [10]  # 11 deduped, 12 blocklisted, 13 unparseable


def test_corpus_line_dedup(spark):
    from fluent_bit_spark.extensions.text import corpus_line_dedup

    docs = spark.createDataFrame(
        [
            (1, "unique opener one.\ncookie banner here\nbody text a"),
            (2, "unique opener two.\ncookie banner here\nbody text b"),
            (3, "unique opener three.\ncookie banner here\n\nbody text c"),
        ],
        ["doc_id", "text"],
    )
    out = corpus_line_dedup(docs, max_docs=2).orderBy("doc_id").collect()
    # "cookie banner here" appears in 3 docs > max_docs=2 -> stripped
    assert all("cookie banner" not in r["clean_text"] for r in out)
    assert [r["n_dropped_lines"] for r in out] == [1, 1, 1]
    # unique lines survive; the blank line in doc 3 is never boilerplate
    assert out[0]["clean_text"] == "unique opener one.\nbody text a"
    assert out[2]["clean_text"] == "unique opener three.\n\nbody text c"
    assert out[2]["n_kept_lines"] == 3


def test_quantize_int8_roundtrip_error(spark):
    import numpy as np

    from fluent_bit_spark.extensions.similarity import quantize_int8

    rng = [(i, [float(((i * 31 + j * 7) % 97) / 97.0 - 0.5) for j in range(8)]) for i in range(20)]
    df = spark.createDataFrame(rng, ["vec_id", "embedding"])
    out = quantize_int8(df, levels=255).collect()
    assert len(out) == 20
    by_id = {r["vec_id"]: r for r in out}
    # codes live in [0, 255] and the extremes are hit per construction
    assert all(0 <= r["code_min"] <= r["code_max"] <= 255 for r in out)
    # dequantized values reconstruct originals within half a quantization step
    vals = np.array([v for _, vec in rng for v in vec]).reshape(20, 8)
    lo, hi = vals.min(axis=0), vals.max(axis=0)
    scale = np.where(hi > lo, (hi - lo) / 255.0, 1.0)
    codes = np.array([by_id[i]["codes"] for i in range(20)], dtype=float)
    recon = lo + codes * scale
    assert np.abs(recon - vals).max() <= scale.max() / 2 + 1e-9


def test_sketch_distinct_and_rollup_merge_property(spark):
    from fluent_bit_spark.extensions.sketches import distinct_counts, distinct_rollup

    rows = [(f"t{i % 3}", f"h{i % 4}", i % 50) for i in range(600)]
    df = spark.createDataFrame(rows, ["typ", "hour", "uid"])
    direct = {
        r["typ"]: r["n_distinct"]
        for r in distinct_counts(df, ["typ"], "uid").collect()
    }
    # rolling fine (typ, hour) sketches up to typ must agree with the
    # direct sketch over raw data (mergeability), and both are exact in
    # the sparse regime
    rolled = {
        r["typ"]: r["n_distinct"]
        for r in distinct_rollup(df, ["typ", "hour"], ["typ"], "uid").collect()
    }
    exact = {
        r["typ"]: r["n"]
        for r in df.groupBy("typ").agg(F.count_distinct("uid").alias("n")).collect()
    }
    assert direct == rolled == exact


def test_sketch_quantiles_item_semantics(spark):
    from fluent_bit_spark.extensions.sketches import quantile_summary

    rows = [("a", float(v)) for v in range(100)]
    df = spark.createDataFrame(rows, ["g", "v"])
    out = quantile_summary(df, ["g"], "v", quantiles=(0.5, 0.95, 0.99)).collect()[0]
    # KLL returns actual items; exact below compaction
    assert out["p50"] in (49.0, 50.0)
    assert out["p95"] in (94.0, 95.0)
    assert out["p99"] in (98.0, 99.0)
    assert out["p50"] <= out["p95"] <= out["p99"]


def test_segment_overlap_set_algebra(spark):
    from fluent_bit_spark.extensions.sketches import segment_overlap

    # A = {0..59}, B = {40..99}: |A∪B| = 100, |A∩B| = 20, |A\B| = 40
    rows = [("A", u) for u in range(60)] + [("B", u) for u in range(40, 100)]
    df = spark.createDataFrame(rows, ["seg", "uid"])
    out = segment_overlap(df, "seg", "uid").collect()
    assert len(out) == 1
    r = out[0]
    assert (r["seg_a"], r["seg_b"]) == ("A", "B")
    assert (r["n_union"], r["n_both"], r["n_only_a"]) == (100, 20, 40)


def test_gap_fill_methods(spark):
    import datetime as dt

    from fluent_bit_spark.extensions.timeseries import downsample, gap_fill

    t0 = dt.datetime(2024, 1, 1, 0, 0, 0)
    rows = [
        ("s1", t0, 10.0),
        ("s1", t0 + dt.timedelta(minutes=3), 40.0),
        ("s2", t0, 5.0),
    ]
    df = spark.createDataFrame(rows, ["series", "ts", "v"])
    d = downsample(df, ["series"], "ts", 60, [F.avg("v").alias("v")])

    filled_null = gap_fill(d, ["series"], 60, ["v"], method="null")
    s1 = {r["bucket"].minute: (r["v"], r["is_gap"])
          for r in filled_null.filter(F.col("series") == "s1").collect()}
    assert set(s1) == {0, 1, 2, 3}
    assert s1[1] == (None, True) and s1[2] == (None, True)
    assert s1[0] == (10.0, False) and s1[3] == (40.0, False)

    locf = {r["bucket"].minute: r["v"]
            for r in gap_fill(d, ["series"], 60, ["v"], method="locf")
            .filter(F.col("series") == "s1").collect()}
    assert locf == {0: 10.0, 1: 10.0, 2: 10.0, 3: 40.0}

    lin = {r["bucket"].minute: r["v"]
           for r in gap_fill(d, ["series"], 60, ["v"], method="linear")
           .filter(F.col("series") == "s1").collect()}
    assert lin == {0: 10.0, 1: 20.0, 2: 30.0, 3: 40.0}

    # single-observation series: spine collapses to one real row
    s2 = gap_fill(d, ["series"], 60, ["v"], method="linear").filter(
        F.col("series") == "s2").collect()
    assert len(s2) == 1 and s2[0]["v"] == 5.0 and not s2[0]["is_gap"]

    with pytest.raises(ValueError):
        gap_fill(d, ["series"], 60, ["v"], method="spline")


def test_rate_reset_detection(spark):
    import datetime as dt

    from fluent_bit_spark.extensions.timeseries import rate

    t0 = dt.datetime(2024, 1, 1)
    rows = [
        ("s", t0, 100.0),
        ("s", t0 + dt.timedelta(seconds=60), 160.0),   # +60 over 60s -> 1.0/s
        ("s", t0 + dt.timedelta(seconds=120), 30.0),   # reset -> 30/60 = 0.5/s
        ("s", t0 + dt.timedelta(seconds=180), 30.0),   # flat -> 0
    ]
    df = spark.createDataFrame(rows, ["series", "bucket", "counter"])
    got = {
        r["bucket"].second + r["bucket"].minute * 60: r["rate"]
        for r in rate(df, ["series"], "counter").collect()
    }
    assert got[0] is None
    assert got[60] == 1.0 and got[120] == 0.5 and got[180] == 0.0


def test_hash_split_deterministic_and_exhaustive(spark):
    from fluent_bit_spark.extensions.mixing import hash_split

    df = spark.createDataFrame([(i,) for i in range(2000)], ["doc_id"])
    out = hash_split(df, {"train": 0.8, "val": 0.1, "test": 0.1})
    counts = {r["split"]: r["n"] for r in
              out.groupBy("split").agg(F.count(F.lit(1)).alias("n")).collect()}
    # every row in exactly one split, proportions near weights
    assert sum(counts.values()) == 2000
    assert 1450 < counts["train"] < 1750
    assert 100 < counts["val"] < 300 and 100 < counts["test"] < 300
    # re-running (and re-partitioning) yields the identical assignment
    again = hash_split(df.repartition(7), {"train": 0.8, "val": 0.1, "test": 0.1})
    assert out.exceptAll(again).isEmpty()

    with pytest.raises(ValueError):
        hash_split(df, {})


def test_cap_per_key_quota_and_plan(spark):
    """At most n rows per key by ascending order; under-cap keys pass
    through untouched, and the ranking window only ever sees rows of
    over-cap keys (the count + broadcast semi/anti split)."""
    import pytest

    from pyspark.sql import functions as F

    from fluent_bit_spark.extensions.mixing import cap_per_key

    rows = [("big", i) for i in range(10)] + [("small", i) for i in range(3)]
    df = spark.createDataFrame(rows, ["domain", "doc_id"])
    out = cap_per_key(df, ["domain"], ["doc_id"], 5)
    got = {}
    for r in out.collect():
        got.setdefault(r.domain, []).append(r.doc_id)
    assert sorted(got["big"]) == [0, 1, 2, 3, 4]     # lowest-order 5 kept
    assert sorted(got["small"]) == [0, 1, 2]          # under cap: untouched
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    with pytest.raises(ValueError):
        cap_per_key(df, ["domain"], ["doc_id"], 0)


def test_unigram_logprob_ranks_target_like_docs_higher(spark):
    import math

    import pytest

    from pyspark.sql import functions as F

    from fluent_bit_spark.extensions.text import unigram_logprob

    target = spark.createDataFrame(
        [(100, "the cat sat on the mat"), (101, "the dog sat on the rug")],
        ["doc_id", "text"],
    )
    docs = spark.createDataFrame(
        [
            (1, "the cat sat on the rug"),     # in-vocabulary
            (2, "zyx wvu tsr qpo nml kji"),    # fully out-of-vocabulary
            (3, "   "),                        # no tokens -> no row
        ],
        ["doc_id", "text"],
    )
    got = {r.doc_id: r for r in unigram_logprob(docs, target).collect()}
    assert set(got) == {1, 2}
    assert got[1].avg_logp > got[2].avg_logp
    assert got[1].n_tokens == 6 and got[2].n_tokens == 6
    # every OOV token scores exactly ln(1/(N+V)): N=12 tokens, V=7 words
    assert abs(got[2].avg_logp - math.log(1 / 19)) < 1e-12

    with pytest.raises(ValueError, match="no tokens"):
        unigram_logprob(docs, spark.createDataFrame([(9, " ")], ["doc_id", "text"]))


def test_fuzzy_decontaminate_catches_paraphrases(spark):
    """Near-copies of benchmark docs are dropped even when whitespace is
    reflowed and words appended (exact n-gram decontamination would need
    a long surviving gram); unrelated docs survive."""
    from pyspark.sql import functions as F

    from fluent_bit_spark.extensions.decontam import decontaminate, fuzzy_decontaminate

    base = (
        "alpha beta gamma delta epsilon zeta eta theta iota kappa "
        "lambda mu nu xi omicron pi rho sigma tau upsilon"
    )
    bench = spark.createDataFrame([(base,)], ["text"])
    corpus = spark.createDataFrame(
        [
            (1, base + "  phi"),                      # near-copy, light edit
            (2, base.replace(" ", "   ") + " chi"),   # reflowed whitespace
            (3, "totally unrelated words about spark plans and shuffles " * 2),
        ],
        ["doc_id", "text"],
    )
    kept = sorted(r.doc_id for r in fuzzy_decontaminate(
        corpus, bench, jaccard_threshold=0.5
    ).collect())
    assert kept == [3]
    # the exact-overlap pass agrees here (long shared grams exist), so the
    # fuzzy variant is a superset-detector on harder inputs, not a rename
    exact = decontaminate(corpus, bench)
    assert sorted(
        r.doc_id for r in exact.filter(~F.col("contaminated")).collect()
    ) == [3]


def test_bpe_train_encode_decode(spark):
    """Library-free BPE: merges learn the frequent pairs, encoding
    compresses repeated words into single tokens, decode reconstructs the
    normalized text exactly, and counts respect structural bounds."""
    from fluent_bit_spark.extensions.bpe import (
        bpe_decode, bpe_encode, bpe_train, _encode_word,
    )

    docs = spark.createDataFrame(
        [(i, "the theme thesis then " * 5) for i in range(8)]
        + [(100, "zq xv")],  # rare words stay character-level
        ["doc_id", "text"],
    )
    merges = bpe_train(docs, num_merges=40, sample=100)
    assert ("t", "h") in [tuple(m) for m in merges]  # most frequent pair
    enc = bpe_encode(docs, merges)
    rows = {r.doc_id: r for r in enc.collect()}
    # 20 words of 'the...' family; heavy merging -> near one token per word
    assert rows[0].n_tokens <= 2 * 20
    # with NO merges every word is chars + end marker (the structural max)
    base = {r.doc_id: r.n_tokens
            for r in bpe_encode(docs, []).collect()}
    assert base[100] == 6 and rows[100].n_tokens <= base[100]
    dec = enc.join(docs, "doc_id").select(
        "doc_id", (bpe_decode(F.col("tokens"))).alias("rt"), "text"
    )
    from fluent_bit_spark.extensions.dedup import normalize_text
    chk = dec.select(
        (F.col("rt") == normalize_text(F.col("text"))).alias("ok")
    ).collect()
    assert all(r.ok for r in chk)
    # apply loop is deterministic and leftmost-lowest-rank
    ranks = {tuple(m): i for i, m in enumerate(merges)}
    assert _encode_word("the", ranks) == _encode_word("the", ranks)


def test_bpe_vocab_fastpath_non_bmp(spark):
    """Pins the zero-merge bpe_vocab fast path (pure-Catalyst split)
    against the general bpe_encode-derived vocabulary on a corpus with
    non-BMP codepoints (JVM surrogate pairs must not be cut by
    split(x, "")) and with Unicode whitespace that Python str.split()
    treats as word breaks but Java's ASCII-only \\s+ collapse leaves in
    the text (NBSP, thin space, ideographic space, NEL, \\x1c): both
    paths must yield the SAME sorted token list."""
    from pyspark.sql import functions as F

    from fluent_bit_spark.extensions.bpe import bpe_encode, bpe_vocab

    docs = spark.createDataFrame(
        [
            (0, "a\U0001F600b c\U0001F984"),        # non-BMP emoji
            (1, "x y p q"),               # NBSP + thin space
            (2, "　ideo　graphic　"),   # ideographic space
            (3, "m\x1cn s\x85t"),                   # Cc separators + NEL
            (4, "plain ascii words"),
            (5, ""),
        ],
        ["doc_id", "text"],
    )
    fast = bpe_vocab(docs, [])
    general = sorted(
        r.tok
        for r in bpe_encode(docs, [])
        .select(F.explode(F.array_distinct("tokens")).alias("tok"))
        .distinct()
        .collect()
    )
    assert fast == general


def test_bpe_int_id_path_matches_string_path(spark):
    """vocab-mapped integer encoding: ids decode back to the exact text,
    the packed int sequences carry identical doc_starts/cuts to the
    string path, the output schema is array<int>, and out-of-vocab
    tokens raise unless unk_id is given."""
    import pytest

    from fluent_bit_spark.extensions.bpe import (
        bpe_decode_ids, bpe_encode, bpe_train, bpe_vocab,
        pack_token_sequences,
    )
    from fluent_bit_spark.extensions.dedup import normalize_text

    docs = spark.createDataFrame(
        [(i, "the quick brown fox jumps over the lazy dog " * 3)
         for i in range(6)] + [(99, "unique suffix words here")],
        ["doc_id", "text"],
    )
    merges = bpe_train(docs, num_merges=30, sample=50)
    vocab = bpe_vocab(docs, merges)
    assert vocab == sorted(set(vocab))  # sorted, distinct -> stable ids

    enc = bpe_encode(docs, merges, vocab=vocab)
    assert dict(enc.dtypes)["tokens"] == "array<int>"
    ok = enc.join(docs, "doc_id").select(
        (bpe_decode_ids(F.col("tokens"), vocab)
         == normalize_text(F.col("text"))).alias("ok")
    ).collect()
    assert all(r.ok for r in ok)

    # packing parity: same cuts and doc_starts, tokens map 1:1 via vocab
    s = pack_token_sequences(docs, merges, seq_len=16).collect()
    i = pack_token_sequences(docs, merges, seq_len=16, vocab=vocab).collect()
    smap = {r.seq_id: r for r in s}
    assert set(smap) == {r.seq_id for r in i}
    for r in i:
        assert list(r.doc_starts) == list(smap[r.seq_id].doc_starts)
        assert [vocab[t] for t in r.tokens] == list(smap[r.seq_id].tokens)

    # out-of-vocab: a doc with unseen chars raises; unk_id maps instead
    alien = spark.createDataFrame([(1, "zzz ###")], ["doc_id", "text"])
    with pytest.raises(Exception, match="outside vocab"):
        bpe_encode(alien, merges, vocab=["a"]).collect()
    got = bpe_encode(alien, merges, vocab=["a"], unk_id=0).collect()[0]
    assert set(got.tokens) == {0}


def test_pack_sequences_ffd_document_aware(spark):
    """FFD packing: no sequence exceeds seq_len, every document lands in
    exactly one sequence (whole — its token run is contiguous and equals
    its own encoding), tokens are conserved, long docs pre-chunk into
    seq_len pieces, and the sequence count respects the FFD waste bound."""
    import math

    from fluent_bit_spark.extensions.bpe import bpe_encode, pack_sequences_ffd

    texts = {
        i: " ".join(f"w{i}x{j}" for j in range(3 + (i * 7) % 40))
        for i in range(60)
    }
    texts[99] = " ".join(f"long{j}" for j in range(200))  # >> seq_len tokens
    df = spark.createDataFrame(list(texts.items()), ["doc_id", "text"])
    L = 128
    out = pack_sequences_ffd(df, [], seq_len=L, num_groups=4).collect()

    assert all(r.n_tokens <= L for r in out)
    assert all(r.n_tokens == len(r.tokens) for r in out)
    # every piece id exactly once across sequences
    all_ids = [d for r in out for d in r.doc_ids]
    assert len(all_ids) == len(set(all_ids))
    base_ids = {d.split("#")[0] for d in all_ids}
    assert base_ids == {str(i) for i in texts}
    # token conservation vs direct encoding
    enc = {str(r.doc_id): list(r.tokens) for r in bpe_encode(df, []).collect()}
    total = sum(len(v) for v in enc.values())
    assert sum(r.n_tokens for r in out) == total
    # doc integrity: each sequence = concatenation of its docs' encodings
    # (long docs compare piece-wise)
    for r in out:
        want = []
        for d in r.doc_ids:
            did, piece = (d.split("#") + ["0"])[:2]
            toks = enc[did]
            p = int(piece)
            want.extend(toks[p * L:(p + 1) * L])
        assert list(r.tokens) == want, r.seq_id
    # the long doc chunked into ceil(200*?)/L pieces of size <= L, the
    # full-size pieces each filling their own bin exactly
    long_pieces = [d for d in all_ids if d.startswith("99#")]
    assert len(long_pieces) == math.ceil(len(enc["99"]) / L)
    # FFD waste bound (groups pack independently)
    n_seqs = len(out)
    assert n_seqs <= (11 / 9) * math.ceil(total / L) + (11 / 9 + 1) * 4


def test_bpe_more_merges_never_increase_tokens(spark):
    from fluent_bit_spark.extensions.bpe import bpe_encode, bpe_train

    docs = spark.createDataFrame(
        [(i, "pack my box with five dozen liquor jugs " * 3) for i in range(6)],
        ["doc_id", "text"],
    )
    small = bpe_train(docs, num_merges=10, sample=50)
    big = bpe_train(docs, num_merges=60, sample=50)
    assert small == big[:len(small)]     # merge list grows monotonically
    n_small = bpe_encode(docs, small).agg(F.sum("n_tokens")).collect()[0][0]
    n_big = bpe_encode(docs, big).agg(F.sum("n_tokens")).collect()[0][0]
    assert n_big <= n_small


def test_dsir_weights_favor_target_like_docs(spark):
    """Docs whose hashed-n-gram profile matches the target corpus score a
    higher importance weight than off-distribution docs; the weight table
    covers exactly the docs with >= 1 gram."""
    from pyspark.sql import functions as F

    from fluent_bit_spark.extensions.dsir import dsir_select, dsir_weights

    target = spark.createDataFrame(
        [(100, "the quick brown fox jumps over the lazy dog"),
         (101, "the quick red fox runs past the sleeping dog")],
        ["doc_id", "text"],
    )
    docs = spark.createDataFrame(
        [
            (1, "the quick brown fox naps beside the lazy dog"),  # target-like
            (2, "jetzt kommen ganz andere worte ohne jede nähe"),  # off-dist
            (3, "   "),                                            # no grams
        ],
        ["doc_id", "text"],
    )
    got = {r.doc_id: r for r in dsir_weights(docs, target, buckets=256).collect()}
    assert set(got) == {1, 2}
    assert got[1].logw / got[1].n_grams > got[2].logw / got[2].n_grams
    # unigrams + bigrams of a 9-word doc: 9 + 8
    assert got[1].n_grams == 17

    sel = dsir_select(docs, target, k=1, buckets=256, gumbel=False)
    assert [r.doc_id for r in sel.collect()] == [1]


def test_dsir_select_deterministic_and_ranked(spark):
    """Gumbel top-k is a pure function of the data: two runs pick the
    identical set in the identical order, ranks are 1..k."""
    from fluent_bit_spark.extensions.dsir import dsir_select
    from pyspark.sql import functions as F

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    target = docs.filter(F.col("doc_id") % 7 == 0)
    a = dsir_select(docs, target, k=10).collect()
    b = dsir_select(docs, target, k=10).collect()
    assert a == b
    assert [r.rank for r in a] == list(range(1, 11))
    scores = [r.score for r in a]
    assert scores == sorted(scores, reverse=True)


def test_semantic_dedup_prunes_within_cluster_copies(spark):
    """Near-identical vectors collapse to one representative; distinct
    directions all survive. Soundness: every dropped vec has a surviving
    partner with cosine >= eps."""
    from fluent_bit_spark.extensions.dedup import semantic_dedup
    from fluent_bit_spark.extensions.similarity import cosine
    from pyspark.sql import functions as F

    def v(*xs):
        return [float(x) for x in xs]

    rows = [
        (1, v(1, 0, 0, 0)), (2, v(0.999, 0.01, 0, 0)),   # dup pair A
        (3, v(0, 1, 0, 0)), (4, v(0.01, 0.999, 0, 0)),   # dup pair B
        (5, v(0, 0, 1, 0)),                               # singleton
        (6, v(0, 0, 0, 1)), (7, v(0, 0, 0.01, 0.999)),   # dup pair C
    ]
    emb = spark.createDataFrame(rows, ["vec_id", "embedding"])
    kept = semantic_dedup(emb, n_clusters=3, eps=0.99, iters=2)
    kept_ids = {r.vec_id for r in kept.select("vec_id").collect()}
    assert 5 in kept_ids
    # exactly one of each dup pair survives
    for pair in [{1, 2}, {3, 4}, {6, 7}]:
        assert len(kept_ids & pair) == 1
    # soundness: each dropped vec has a kept partner with cos >= eps
    dropped = emb.join(kept.select("vec_id"), "vec_id", "left_anti")
    d = dropped.select(F.col("vec_id").alias("id_d"), F.col("embedding").alias("vd"))
    k = kept.select(F.col("vec_id").alias("id_k"), F.col("embedding").alias("vk"))
    uncovered = (
        d.join(k, F.col("id_d") != F.col("id_k"))
        .filter(cosine(F.col("vd"), F.col("vk")) >= 0.99)
        .select("id_d").distinct()
    )
    assert uncovered.count() == dropped.count()
    # determinism: same layout on a second run
    kept2 = {r.vec_id for r in semantic_dedup(emb, n_clusters=3, eps=0.99, iters=2)
             .select("vec_id").collect()}
    assert kept2 == kept_ids


def test_bpe_train_guard_and_model_persistence(spark, tmp_path):
    """sample beyond the driver-collect bound refuses (pq_topk policy);
    a saved model reloads byte-identical and encodes identically."""
    import pytest

    from fluent_bit_spark.extensions.bpe import (
        bpe_encode, bpe_load, bpe_save, bpe_train,
    )

    docs = spark.createDataFrame(
        [(i, "she sells sea shells by the sea shore " * 2) for i in range(6)],
        ["doc_id", "text"],
    )
    with pytest.raises(ValueError, match="driver-collect bound"):
        bpe_train(docs, sample=10_000_000)

    merges = bpe_train(docs, num_merges=30, sample=50)
    path = str(tmp_path / "bpe.json")
    bpe_save(merges, path)
    assert bpe_load(path) == merges
    a = {r.doc_id: r.tokens for r in bpe_encode(docs, merges).collect()}
    b = {r.doc_id: r.tokens for r in bpe_encode(docs, bpe_load(path)).collect()}
    assert a == b
    # truncated / foreign file fails loudly
    bad = tmp_path / "bad.json"
    bad.write_text('{"merges": "oops"}')
    with pytest.raises(ValueError, match="not a BPE merge model"):
        bpe_load(str(bad))


def test_dsir_select_string_ids_and_k_required(spark):
    """String doc ids get real (non-NULL) Gumbel scores — the md5-prefix
    hash is type-agnostic; huge int ids don't overflow; k=None refuses."""
    import pytest

    from fluent_bit_spark.extensions.dsir import dsir_select

    target = spark.createDataFrame(
        [("t1", "the quick brown fox jumps over the lazy dog")],
        ["doc_id", "text"],
    )
    docs = spark.createDataFrame(
        [("a", "the quick brown fox naps beside the lazy dog"),
         ("b", "the slow brown fox walks around the lazy dog"),
         ("c", "voellig andere worte ohne jede aehnlichkeit hier")],
        ["doc_id", "text"],
    )
    sel = dsir_select(docs, target, k=3, buckets=128).collect()
    assert len(sel) == 3 and all(r.score is not None for r in sel)
    assert [r.rank for r in sel] == [1, 2, 3]

    huge = spark.createDataFrame(
        [(2**62 + 11, "the quick brown fox naps beside the lazy dog"),
         (2**62 + 12, "unrelated words entirely different from anything")],
        ["doc_id", "text"],
    )
    sel2 = dsir_select(huge, target, k=2, buckets=128).collect()
    assert all(r.score is not None for r in sel2)

    with pytest.raises(ValueError, match="k must be an int"):
        dsir_select(docs, target, k=None)


def test_cap_per_key_salt_skips_map_columns(spark):
    """The salted path must survive frames carrying map-typed columns
    (telemetry label maps): xxhash64 rejects maps, so salting hashes only
    hashable columns by default and honors explicit salt_cols."""
    from pyspark.sql import functions as F

    from fluent_bit_spark.extensions.mixing import cap_per_key

    df = spark.range(200).select(
        (F.col("id") % 3).cast("string").alias("domain"),
        F.col("id").alias("doc_id"),
        F.create_map(F.lit("k"), F.col("id").cast("string")).alias("labels"),
    )
    out = cap_per_key(df, ["domain"], ["doc_id"], 10, salt=4)
    counts = {r.domain: r.c for r in
              out.groupBy("domain").agg(F.count("*").alias("c")).collect()}
    assert all(c == 10 for c in counts.values())
    # explicit salt_cols works too and yields the same quota
    out2 = cap_per_key(df, ["domain"], ["doc_id"], 10, salt=4,
                       salt_cols=["doc_id"])
    assert out2.count() == 30


def test_gopher_quality_output_collision_raises(spark):
    import pytest

    from fluent_bit_spark.extensions.text import gopher_quality

    df = spark.createDataFrame(
        [(1, "some text", True)], ["doc_id", "text", "keep"]
    )
    with pytest.raises(ValueError, match="collide"):
        gopher_quality(df)


def test_bm25_topk_ranking_and_contract(spark):
    """BM25: a doc containing the full query phrase outranks docs sharing
    one term; rare terms outweigh common ones via idf; rank is dense from
    1 with deterministic tie-break; k bounds per-query rows."""
    import pytest

    from fluent_bit_spark.extensions.retrieval import bm25_topk

    docs = spark.createDataFrame(
        [
            (1, "quantum computing with trapped ions"),
            (2, "classical computing on silicon chips"),
            (3, "quantum entanglement and quantum teleportation basics"),
            (4, "cooking recipes for winter evenings"),
            (5, "the the the the the common words only"),
        ],
        ["doc_id", "text"],
    )
    queries = spark.createDataFrame(
        [(100, "quantum computing")], ["query_id", "text"]
    )
    out = bm25_topk(docs, queries, k=3).collect()
    assert [r.rank for r in out] == [1, 2, 3]
    ranked = [r.doc_id for r in out]
    assert ranked[0] == 1            # both terms present -> top
    assert set(ranked) == {1, 2, 3}  # doc 4/5 share no query term
    assert all(r.score > 0 for r in out)

    with pytest.raises(ValueError, match="k must be"):
        bm25_topk(docs, queries, k=0)
    # determinism
    again = [r.doc_id for r in bm25_topk(docs, queries, k=3).collect()]
    assert again == ranked


def test_bm25_filter_failing_null_ids_agree(spark):
    """The IN-literal (<= 1024 ids) and broadcast-join (> 1024) sides of
    _filter_failing give the same rows, a null query id included."""
    from fluent_bit_spark.extensions.retrieval import _filter_failing

    df = spark.createDataFrame(
        [(1, "a"), (2, "b"), (None, "c"), (3, "d")], "qid int, v string"
    )
    few = [2]
    many = few + list(range(1000, 2100))
    assert len(many) == 1101

    def rows(ids, negate):
        return sorted(r.v for r in _filter_failing(df, "qid", ids, negate=negate).collect())

    for negate in (False, True):
        assert rows(few, negate) == rows(many, negate), negate
    assert rows(many, True) == ["a", "d"]


def test_bm25_prune_is_certificate_exact(spark):
    """The block-max-style candidate prune returns EXACTLY the dense
    top-k on a Zipfian corpus (certificate passes) AND on a degenerate
    flat corpus where every certificate fails and the dense fallback
    kicks in; prune_top_c < k refuses."""
    import random

    import pytest

    from fluent_bit_spark.extensions.retrieval import bm25_topk

    rng = random.Random(11)
    vocab = [f"w{i}" for i in range(150)]
    weights = [1.0 / (j + 1) for j in range(150)]
    docs = spark.createDataFrame(
        [(i, " ".join(rng.choices(vocab, weights=weights,
                                  k=rng.randint(5, 40))))
         for i in range(600)],
        ["doc_id", "text"],
    )
    qs = spark.createDataFrame(
        [(i, " ".join(rng.choices(vocab, weights=weights, k=4)))
         for i in range(20)],
        ["query_id", "text"],
    )
    dense = {(r.query_id, r.rank): (r.doc_id, r.score)
             for r in bm25_topk(docs, qs, k=5).collect()}
    for c in (5, 25):
        pruned = {(r.query_id, r.rank): (r.doc_id, r.score)
                  for r in bm25_topk(docs, qs, k=5, prune_top_c=c).collect()}
        assert pruned == dense

    flat = spark.createDataFrame(
        [(i, "same words here") for i in range(60)], ["doc_id", "text"]
    )
    fq = spark.createDataFrame([(1, "same here")], ["query_id", "text"])
    d2 = {(r.query_id, r.rank): (r.doc_id, r.score)
          for r in bm25_topk(flat, fq, k=5).collect()}
    p2 = {(r.query_id, r.rank): (r.doc_id, r.score)
          for r in bm25_topk(flat, fq, k=5, prune_top_c=5).collect()}
    assert d2 == p2

    with pytest.raises(ValueError, match="prune_top_c"):
        bm25_topk(docs, qs, k=10, prune_top_c=5)


def test_cluster_balanced_sample_caps_each_cluster(spark):
    """SemDeDup-style diversity balancing: three well-separated embedding
    clusters of sizes 40/40/4 with cap=10 keep exactly 10/10/4; cluster
    assignment is the true geometric one; the pass is deterministic; the
    projection-only assigner matches a brute-force argmax."""
    from pyspark.sql import functions as F

    from fluent_bit_spark.extensions.similarity import (
        assign_clusters, cluster_balanced_sample,
    )

    def vec(center, i):
        # tight blobs around three orthogonal-ish centers in 8-d
        base = [0.0] * 8
        base[center] = 10.0
        base[(center + 4) % 8] = 1.0 + (i % 5) * 0.01
        return base

    rows = (
        [(i, vec(0, i)) for i in range(40)]
        + [(100 + i, vec(1, i)) for i in range(40)]
        + [(200 + i, vec(2, i)) for i in range(4)]
    )
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    out = cluster_balanced_sample(df, cap=10, n_clusters=3, iters=4)
    kept_sizes = {
        r.cid: r.n for r in out.groupBy("cid").agg(F.count("*").alias("n")).collect()
    }
    # the CONTRACT: per cluster of the actual assignment, kept ==
    # min(cap, members) — k-means geometry itself is not the contract
    from fluent_bit_spark.extensions.similarity import kmeans_centroids

    cents3 = kmeans_centroids(df, 3, 4)
    full_sizes = {
        r.cid: r.n
        for r in assign_clusters(df, cents3)
        .groupBy("cid").agg(F.count("*").alias("n")).collect()
    }
    assert kept_sizes == {c: min(10, n) for c, n in full_sizes.items() if n}
    # determinism
    again = sorted(r.vec_id for r in out.select("vec_id").collect())
    again2 = sorted(
        r.vec_id
        for r in cluster_balanced_sample(df, cap=10, n_clusters=3, iters=4)
        .select("vec_id").collect()
    )
    assert again == again2

    # assign_clusters matches brute-force nearest-centroid
    cents = [vec(0, 0), vec(1, 0), vec(2, 0)]
    got = {r.vec_id: r.cid for r in assign_clusters(df, cents).collect()}
    assert all(got[i] == 0 for i in range(40))
    assert all(got[100 + i] == 1 for i in range(40))
    assert all(got[200 + i] == 2 for i in range(4))


def test_bm25_index_serving_path_matches_dense(spark):
    """The build-once/query-many split: bm25_index + bm25_topk_indexed
    returns exactly bm25_topk's dense results for two different query
    batches against the same index (including certificate fallbacks),
    and refuses k > index c."""
    import random

    import pytest

    from fluent_bit_spark.extensions.retrieval import (
        bm25_index, bm25_topk, bm25_topk_indexed,
    )

    rng = random.Random(23)
    vocab = [f"w{i}" for i in range(120)]
    weights = [1.0 / (j + 1) for j in range(120)]
    docs = spark.createDataFrame(
        [(i, " ".join(rng.choices(vocab, weights=weights,
                                  k=rng.randint(5, 30))))
         for i in range(400)],
        ["doc_id", "text"],
    )
    idx = bm25_index(docs, c=20)
    for seed in (1, 2):
        r2 = random.Random(seed)
        qs = spark.createDataFrame(
            [(i, " ".join(r2.choices(vocab, weights=weights, k=3)))
             for i in range(15)],
            ["query_id", "text"],
        )
        dense = {(r.query_id, r.rank): (r.doc_id, r.score)
                 for r in bm25_topk(docs, qs, k=5).collect()}
        served = {(r.query_id, r.rank): (r.doc_id, r.score)
                  for r in bm25_topk_indexed(idx, qs, k=5).collect()}
        assert served == dense

    with pytest.raises(ValueError, match="rebuild with c >= k"):
        bm25_topk_indexed(idx, qs, k=50)


def test_bm25_dense_pivot_fallback_matches_join(spark, monkeypatch):
    """The pivot dense fallback (_dense_topk_pivot — engaged when the
    failing-query x corpus pair space is large) returns EXACTLY the
    postings-join fallback's rows: same candidate set, same rounded
    scores, same deterministic tie-break. Exercised on a degenerate flat
    corpus (every certificate fails — the pivot's target regime) with
    duplicated docs (score ties broken by id), query terms absent from
    the corpus, a single-term query, and a query with no matching doc."""
    import random

    from fluent_bit_spark.extensions import retrieval
    from fluent_bit_spark.extensions.retrieval import (
        bm25_index, bm25_topk, bm25_topk_indexed,
    )

    rng = random.Random(7)
    vocab = [f"w{i}" for i in range(13)]  # flat, tiny: certificates fail
    rows = [
        (i, " ".join(rng.choices(vocab, k=rng.randint(6, 25))))
        for i in range(300)
    ]
    rows += [(1000 + i, rows[i][1]) for i in range(40)]  # exact dup texts
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    qs = spark.createDataFrame(
        [(i, " ".join(rng.choices(vocab, k=4))) for i in range(25)]
        + [
            (100, f"{vocab[0]} missingterm"),  # term absent from corpus
            (101, vocab[3]),                   # single-term query
            (102, "absent1 absent2"),          # no matching doc at all
        ],
        ["query_id", "text"],
    )
    idx = bm25_index(docs, c=5)

    def serve(min_pairs):
        monkeypatch.setattr(retrieval, "_DENSE_PIVOT_MIN_PAIRS", min_pairs)
        return {
            (r.query_id, r.rank): (r.doc_id, r.score)
            for r in bm25_topk_indexed(idx, qs, k=5).collect()
        }

    joined = serve(10**15)  # join shape for any failing set
    pivoted = serve(1)      # pivot shape for any failing set
    assert pivoted == joined

    # bm25_topk's own dense path takes the same guard: pin the pivot
    # arm against the pure-JVM join arm AND against the serve results
    def topk(min_pairs):
        monkeypatch.setattr(retrieval, "_DENSE_PIVOT_MIN_PAIRS", min_pairs)
        return {
            (r.query_id, r.rank): (r.doc_id, r.score)
            for r in bm25_topk(docs, qs, k=5).collect()
        }

    dense_join = topk(10**15)
    dense_pivot = topk(1)
    assert dense_pivot == dense_join
    assert pivoted == dense_join


def test_bm25_topk_pruned_dense_shape_counts_failing_queries(spark, monkeypatch):
    """bm25_topk's pruned path picks the dense shape from the number of
    queries whose certificate failed, as bm25_topk_indexed does: with the
    pair floor between n_docs x failing and n_docs x all queries it
    re-scores the failing ones on the join shape, and with the floor at
    n_docs x failing on the pivot shape. Both give the unpruned rows."""
    import random

    from fluent_bit_spark.extensions import retrieval

    rng = random.Random(11)
    vocab = [f"w{i}" for i in range(10)]  # flat: these queries fail
    rows = [(i, " ".join(rng.choices(vocab, k=12))) for i in range(200)]
    rows += [(1000 + i, f"r{i} " + vocab[i % 10]) for i in range(30)]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    flat = [(i, " ".join(rng.choices(vocab, k=3))) for i in range(10)]
    rare = [(100 + i, f"r{i}") for i in range(30)]  # df 1 <= C: certified
    qs = spark.createDataFrame(flat + rare, ["query_id", "text"])
    n_docs = len(rows)
    pivots = []
    real_pivot = retrieval._dense_topk_pivot

    def spy(tc, qf, *args):
        pivots.append(qf.select("query_id").distinct().count())
        return real_pivot(tc, qf, *args)

    monkeypatch.setattr(retrieval, "_dense_topk_pivot", spy)

    def topk(min_pairs, **kw):
        monkeypatch.setattr(retrieval, "_DENSE_PIVOT_MIN_PAIRS", min_pairs)
        return {
            (r.query_id, r.rank): (r.doc_id, r.score)
            for r in retrieval.bm25_topk(docs, qs, k=3, **kw).collect()
        }

    exact = topk(10**15)
    assert topk(n_docs * len(flat) + 1, prune_top_c=5) == exact
    assert pivots == []  # 10 failing queries: below the floor, join shape
    assert topk(n_docs * len(flat), prune_top_c=5) == exact
    assert pivots == [len(flat)]


def test_bm25_index_persist_roundtrip(spark, tmp_path):
    """bm25_index_save + bm25_index_load: the reloaded index serves
    results identical to the in-memory one (frames AND meta scalars
    roundtrip), and serving touches only the persisted parquet — the
    corpus frame is not consulted after the save."""
    import random

    from fluent_bit_spark.extensions.retrieval import (
        bm25_index, bm25_index_load, bm25_index_save, bm25_topk_indexed,
    )

    rng = random.Random(31)
    vocab = [f"w{i}" for i in range(80)]
    docs = spark.createDataFrame(
        [(i, " ".join(rng.choices(vocab, k=rng.randint(5, 25))))
         for i in range(200)],
        ["doc_id", "text"],
    )
    qs = spark.createDataFrame(
        [(i, " ".join(rng.choices(vocab, k=3))) for i in range(10)],
        ["query_id", "text"],
    )
    idx = bm25_index(docs, c=15)
    path = str(tmp_path / "bm25_idx")
    bm25_index_save(idx, path)
    reloaded = bm25_index_load(spark, path)
    for key in ("n_docs", "avgdl", "k1", "b", "c", "id_col"):
        assert reloaded[key] == idx[key], key
    mem = {(r.query_id, r.rank): (r.doc_id, r.score)
           for r in bm25_topk_indexed(idx, qs, k=5).collect()}
    disk = {(r.query_id, r.rank): (r.doc_id, r.score)
            for r in bm25_topk_indexed(reloaded, qs, k=5).collect()}
    assert disk == mem and len(disk) == 50


def test_bm25_index_append_equals_full_rebuild(spark, tmp_path):
    """bm25_index_append: a persisted index grown with new docs serves
    HASH-EQUAL to a full rebuild on the union corpus (global n_docs /
    avgdl / idf all recomputed exactly from the postings table — no
    access to the original corpus), behind a crash-safe manifest flip:
    the pre-append version stays live and complete until the new
    version dir is fully written. Id collisions and pre-postings
    layouts refuse loudly."""
    import os
    import random

    import pytest

    from fluent_bit_spark.extensions.retrieval import (
        bm25_index, bm25_index_append, bm25_index_load, bm25_index_save,
        bm25_topk_indexed,
    )

    rng = random.Random(47)
    vocab = [f"w{i}" for i in range(60)]

    def corpus(ids):
        return spark.createDataFrame(
            [(i, " ".join(rng.choices(vocab, k=rng.randint(5, 20))))
             for i in ids],
            ["doc_id", "text"],
        )

    old = corpus(range(150))
    new = corpus(range(150, 220))
    qs = spark.createDataFrame(
        [(i, " ".join(rng.choices(vocab, k=3))) for i in range(8)],
        ["query_id", "text"],
    )
    path = str(tmp_path / "bm25_grow")
    bm25_index_save(bm25_index(old, c=15), path)
    n = bm25_index_append(spark, path, new)
    assert n == 70
    served = {(r.query_id, r.rank): (r.doc_id, round(r.score, 9))
              for r in bm25_topk_indexed(
                  bm25_index_load(spark, path), qs, k=5).collect()}
    rebuilt = {(r.query_id, r.rank): (r.doc_id, round(r.score, 9))
               for r in bm25_topk_indexed(
                   bm25_index(old.unionByName(new), c=15), qs, k=5).collect()}
    assert served == rebuilt and len(served) == 40
    # manifest points at the appended version; the saved version's
    # tables are still intact (the crash-safety invariant)
    assert open(os.path.join(path, "MANIFEST")).read().strip() == "v000002"
    assert os.path.isdir(os.path.join(path, "v000002", "postings"))
    assert os.path.isdir(os.path.join(path, "v000001", "tc"))
    # a second append stacks another version
    more = corpus(range(220, 240))
    assert bm25_index_append(spark, path, more) == 20
    assert open(os.path.join(path, "MANIFEST")).read().strip() == "v000003"
    # id collision refuses (a rebuild would merge the two docs)
    with pytest.raises(ValueError, match="reuse document ids"):
        bm25_index_append(spark, path, corpus(range(100, 110)))


def test_repeated_span_stats_detects_shared_substrings(spark):
    """A 12-token substring shared by two docs yields duplicated 10-token
    windows in BOTH; fully unique docs report dup_frac 0; short docs
    report zero windows without erroring."""
    from pyspark.sql import functions as F

    from fluent_bit_spark.extensions.text import repeated_span_stats

    shared = "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu"
    docs = spark.createDataFrame(
        [
            (1, shared + " unique one tail here now extra words padding more"),
            (2, "different head words lead in " + shared),
            (3, "totally distinct content with eleven completely unrelated "
                "words spread across this sentence"),
            (4, "short doc"),
        ],
        ["doc_id", "text"],
    )
    out = {r.doc_id: r for r in repeated_span_stats(docs, window=10).collect()}
    # the shared 12-token run contains 3 shared 10-windows; both docs
    # report at least those as duplicated
    assert out[1].dup_windows >= 3 and out[2].dup_windows >= 3
    assert out[3].dup_windows == 0 and out[3].dup_frac == 0.0
    assert out[4].n_windows == 0 and out[4].dup_frac == 0.0
    assert out[4].n_tokens == 2
    # n_windows = n_tokens - 9 for docs long enough
    assert out[1].n_windows == out[1].n_tokens - 9
    # dup_frac consistency
    for r in out.values():
        if r.n_windows:
            assert abs(r.dup_frac - r.dup_windows / r.n_windows) < 1e-6


def test_bigram_logprob_context_sensitivity(spark):
    """The bigram model rewards target-like word ORDER, not just target
    vocabulary: a doc with the target's exact bigrams outscores the same
    words shuffled into unseen bigrams; OOV-heavy docs score lowest;
    interpolation bounds are validated."""
    import pytest

    from fluent_bit_spark.extensions.text import bigram_logprob

    target = spark.createDataFrame(
        [(100 + i, "the quick brown fox jumps over the lazy dog") for i in range(3)],
        ["doc_id", "text"],
    )
    docs = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog"),  # exact order
            (2, "dog the over quick lazy brown jumps fox the"),  # same words, shuffled
            (3, "voellig unbekannte woerter ohne jede uebereinstimmung"),
        ],
        ["doc_id", "text"],
    )
    got = {r.doc_id: r for r in bigram_logprob(docs, target).collect()}
    assert got[1].avg_logp > got[2].avg_logp > got[3].avg_logp
    assert got[1].n_tokens == 9
    with pytest.raises(ValueError, match="interpolation"):
        bigram_logprob(docs, target, interpolation=1.5)


def test_perplexity_buckets_thirds(spark):
    """Rank-free CCNet split: exact-percentile cutoffs put ~1/3 of docs
    in each bucket, the best scores in 'head', and the split is
    deterministic across runs."""
    from pyspark.sql import functions as F

    from fluent_bit_spark.extensions.text import perplexity_buckets

    scores = spark.range(90).select(
        F.col("id").alias("doc_id"), (-F.col("id").cast("double") / 10).alias("avg_logp")
    )
    out = perplexity_buckets(scores)
    counts = {r.bucket: r.c for r in
              out.groupBy("bucket").agg(F.count("*").alias("c")).collect()}
    assert set(counts) == {"head", "middle", "tail"}
    assert all(25 <= c <= 35 for c in counts.values())
    # best (highest avg_logp = ids 0..) land in head
    heads = {r.doc_id for r in out.filter(F.col("bucket") == "head").collect()}
    assert 0 in heads and 89 not in heads
    again = {(r.doc_id, r.bucket) for r in perplexity_buckets(scores).collect()}
    assert again == {(r.doc_id, r.bucket) for r in out.collect()}


def test_resize_images_and_patch_grid(spark):
    """The resize stand-in emits REAL PNGs of the target dims (round-trips
    through the header sniffer); a custom library callable is honored;
    patch grids floor to whole tiles and skip too-small images."""
    from fluent_bit_spark.extensions.multimodal import (
        extract_media_headers, image_patch_grid, parse_media_header,
        resize_images, to_media_frame,
    )
    from pyspark.sql import functions as F

    docs = spark.createDataFrame(
        [(1, "payload one"), (2, "a different payload")], ["doc_id", "text"]
    )
    media = to_media_frame(docs, "doc_id", F.encode(F.col("text"), "utf-8"), "image")
    resized = resize_images(media, 40, 33)
    rows = {r.media_id: r for r in resized.collect()}
    assert rows[1].width == 40 and rows[1].height == 33
    hdr = parse_media_header(bytes(rows[1].content))
    assert hdr["format"] == "png" and hdr["width"] == 40 and hdr["height"] == 33

    # custom library closure takes over the pixel step
    custom = resize_images(media, 8, 8, library=lambda b: b"XX" + b[:2])
    assert bytes(custom.collect()[0].content)[:2] == b"XX"

    headers = extract_media_headers(resized)
    grid = image_patch_grid(headers, patch=16)
    # 40x33 / 16 -> 2 cols x 2 rows
    g1 = grid.filter(F.col("media_id") == 1).collect()
    assert {(r.patch_row, r.patch_col) for r in g1} == {(0, 0), (0, 1), (1, 0), (1, 1)}
    assert all(r.x0 == r.patch_col * 16 and r.y0 == r.patch_row * 16 for r in g1)
    # an image smaller than one patch contributes no rows
    tiny = spark.createDataFrame([(9, 10, 10)], ["media_id", "width", "height"])
    assert image_patch_grid(tiny, patch=16).count() == 0


def test_pagerank_power_iteration(spark):
    """PageRank sanity on a known graph: ranks sum to <= 1 (dangling leak
    documented), the most-linked node ranks highest, a chain converges to
    increasing ranks, and empty/invalid inputs refuse."""
    import pytest
    from pyspark.sql import functions as F

    from fluent_bit_spark.extensions.graph import pagerank

    e = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 1), (1, 3)], ["src", "dst"]
    )
    pr = {r.node: r.rank for r in pagerank(e, iterations=5).collect()}
    # independently verified against a hand/duckdb computation
    assert abs(pr[1] - 0.394896) < 1e-5
    assert abs(pr[2] - 0.217831) < 1e-5
    assert abs(pr[3] - 0.387273) < 1e-5
    assert abs(sum(pr.values()) - 1.0) < 1e-9  # no dangling here

    # star graph: the hub out-links only; leaves point at the center
    star = spark.createDataFrame(
        [(i, 0) for i in range(1, 6)], ["src", "dst"]
    )
    spr = {r.node: r.rank for r in pagerank(star, iterations=10).collect()}
    assert spr[0] == max(spr.values())
    # center is dangling -> total mass leaks below 1
    assert sum(spr.values()) < 1.0

    with pytest.raises(ValueError, match="iterations"):
        pagerank(e, iterations=0)
    with pytest.raises(ValueError, match="empty"):
        pagerank(e.filter(F.col("src") > 99))


def test_html_extract_edges(spark):
    """Extraction semantics: head content excluded from body, scripts/
    styles/comments gone, entities decoded once (&amp;lt; -> literal
    '&lt;'), missing title -> '', malformed markup degrades gracefully."""
    from fluent_bit_spark.extensions.html import html_extract

    rows = [
        (1, "<html><head><title>T &amp; U</title><script>if (a<b) {}</script>"
            "</head><body><p>Hello&nbsp;world</p><!-- hidden --></body></html>"),
        (2, "<body>No title here &amp;lt;tag&amp;gt; <a href='x'>go</a></body>"),
        (3, "plain text, no markup at all"),
        (4, "<p>broken <b>nested <i>unclosed</p>"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "html"])
    out = {r.doc_id: r for r in html_extract(df).collect()}
    assert out[1].title == "T & U"
    assert out[1].body == "Hello world"          # head + script + comment gone
    assert out[2].title == "" and out[2].n_links == 1
    assert "&lt;tag&gt;" in out[2].body          # no double decode
    assert out[3].body == "plain text, no markup at all"
    assert out[4].body == "broken nested unclosed"


def test_warc_parse_record_shapes(spark):
    """WARC parsing: full response records yield all fields; mixed
    CRLF/LF separators parse identically; truncated records degrade to
    NULL status with the remainder as body."""
    from fluent_bit_spark.extensions.html import warc_parse

    full = ("WARC/1.0\r\nWARC-Type: response\r\n"
            "WARC-Target-URI: http://a.example/x\r\n"
            "WARC-Date: 2024-02-03T04:05:06Z\r\n\r\n"
            "HTTP/1.1 301 Moved\r\nContent-Type: text/plain; charset=x\r\n\r\n"
            "the payload")
    lf = full.replace("\r\n", "\n")
    broken = "WARC/1.0\nWARC-Type: metadata\n\nno http block here"
    df = spark.createDataFrame(
        [(1, full), (2, lf), (3, broken)], ["doc_id", "raw"]
    )
    out = {r.doc_id: r for r in warc_parse(df).collect()}
    for i in (1, 2):
        assert out[i].warc_type == "response"
        assert out[i].target_uri == "http://a.example/x"
        assert out[i].warc_date == "2024-02-03T04:05:06Z"
        assert out[i].http_status == 301
        assert out[i].content_type == "text/plain"
        assert out[i].body == "the payload"
    assert out[3].warc_type == "metadata"
    assert out[3].http_status is None and out[3].target_uri is None


def test_robots_parse_and_filter_precedence(spark):
    """RFC 9309 semantics: '*'-group extraction (non-star groups ignored),
    comment/blank tolerance, longest-match precedence with Allow
    override, '$' end anchors, '*' wildcards, and absent robots = crawl
    allowed."""
    from fluent_bit_spark.extensions.urls import parse_robots, robots_filter

    robots = spark.createDataFrame([
        ("a.example",
         "# comment\nUser-agent: googlebot\nDisallow: /private\n\n"
         "User-agent: *\nDisallow: /tmp/\nAllow: /tmp/public\n"
         "Disallow: /*.json$\nDisallow:\n"),
        ("b.example", "User-agent: *\nDisallow: /\n"),
    ], ["domain", "robots_txt"])
    rules = parse_robots(robots)
    got = {(r.domain, r.rule, r.path_prefix) for r in rules.collect()}
    assert got == {
        ("a.example", "allow", "/tmp/public"),
        ("a.example", "disallow", "/tmp/"),
        ("a.example", "disallow", "/*.json$"),
        ("b.example", "disallow", "/"),
    }
    urls = spark.createDataFrame([
        (1, "http://a.example/tmp/secret"),
        (2, "http://a.example/tmp/public/x"),
        (3, "http://a.example/data.json"),
        (4, "http://a.example/data.json.bak"),
        (5, "http://a.example/ok"),
        (6, "http://b.example/anything"),
        (7, "http://c.example/nofile"),
    ], ["uid", "url"])
    kept = sorted(r.uid for r in robots_filter(urls, rules).collect())
    assert kept == [2, 4, 5, 7]


def test_stratified_sample_deterministic_fractions(spark):
    """Per-stratum rates hold approximately, membership is identical
    across runs and repartitionings, and invalid fractions refuse."""
    import pytest
    from pyspark.sql import functions as F

    from fluent_bit_spark.extensions.mixing import stratified_sample

    df = spark.range(6000).select(
        F.col("id").alias("doc_id"),
        F.element_at(
            F.array(F.lit("a"), F.lit("b"), F.lit("c")),
            (F.col("id") % 3 + 1).cast("int"),
        ).alias("lang"),
    )
    out = stratified_sample(df, "lang", {"a": 1.0, "b": 0.5}, default_fraction=0.0)
    counts = {r.lang: r.c for r in out.groupBy("lang").agg(F.count("*").alias("c")).collect()}
    assert counts["a"] == 2000                      # fraction 1.0 keeps all
    assert 850 <= counts.get("b", 0) <= 1150        # ~0.5 of 2000
    assert "c" not in counts                        # default 0.0 drops all
    ids = {r.doc_id for r in out.collect()}
    again = {r.doc_id for r in
             stratified_sample(df.repartition(7), "lang", {"a": 1.0, "b": 0.5},
                               default_fraction=0.0).collect()}
    assert ids == again
    with pytest.raises(ValueError, match="fraction"):
        stratified_sample(df, "lang", {"a": 1.5})


def test_dataset_diff_statuses(spark):
    """added/removed/modified/unchanged classified correctly; hash_cols
    defaults to shared non-id columns; no-comparable-columns refuses."""
    import pytest

    from fluent_bit_spark.storage import dataset_diff

    old = spark.createDataFrame(
        [(1, "same", "x"), (2, "will change", "y"), (3, "going away", "z")],
        ["doc_id", "text", "meta"],
    )
    new = spark.createDataFrame(
        [(1, "same", "x"), (2, "changed!", "y"), (4, "brand new", "w")],
        ["doc_id", "text", "meta"],
    )
    got = {r.doc_id: r.status for r in dataset_diff(old, new).collect()}
    assert got == {1: "unchanged", 2: "modified", 3: "removed", 4: "added"}
    # comparing only `meta` makes row 2 unchanged
    got2 = {r.doc_id: r.status
            for r in dataset_diff(old, new, hash_cols=["meta"]).collect()}
    assert got2[2] == "unchanged"
    with pytest.raises(ValueError, match="no columns"):
        dataset_diff(old.select("doc_id"), new.select("doc_id"))


def test_pack_token_sequences_stream_contract(spark):
    """Packing invariants: every emitted sequence is exactly seq_len
    tokens; the concatenated sequences reproduce a prefix of the global
    doc-ordered token stream; doc_starts mark exactly the document
    first-token slots; the partial tail is dropped."""
    from fluent_bit_spark.extensions.bpe import (
        _END, bpe_encode, pack_token_sequences,
    )
    from pyspark.sql import functions as F

    docs = spark.createDataFrame(
        [(i, f"alpha{i} beta gamma delta") for i in range(12)],
        ["doc_id", "text"],
    )
    L = 40
    out = pack_token_sequences(docs, [], seq_len=L).orderBy("seq_id").collect()
    assert all(r.n_tokens == L for r in out)
    assert [r.seq_id for r in out] == list(range(len(out)))
    packed = "".join("".join(r.tokens) for r in out)
    enc = bpe_encode(docs, []).orderBy("doc_id").collect()
    stream = "".join("".join(e.tokens) for e in enc)
    assert packed == stream[:len(packed)]
    assert len(stream) - len(packed) < L  # only the partial tail dropped
    # doc starts: reconstruct expected offsets
    offs, acc = [], 0
    for e in enc:
        offs.append(acc)
        acc += e.n_tokens
    want = {}
    for o in offs:
        if o // L < len(out):
            want.setdefault(o // L, []).append(o % L)
    got = {r.seq_id: list(r.doc_starts) for r in out if r.doc_starts}
    assert got == want


def test_exact_substr_trim_policy(spark):
    from fluent_bit_spark.extensions.text import exact_substr_trim

    docs = spark.createDataFrame(
        [
            (1, "a b c d e f g h i j unique tail one"),
            (2, "x a b c d e f g h i j other ending"),  # shares the a..j span
            (3, "totally different words with no overlap at all here now"),
            (4, "a b c d e f g h i j unique tail one"),  # full dup of doc 1
            (5, "short doc"),  # below window: untouched
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in exact_substr_trim(docs, window=10).collect()}
    # canonical (first) occurrence keeps its text verbatim
    assert out[1].trimmed_text == "a b c d e f g h i j unique tail one"
    assert out[1].n_cut_spans == 0
    # partial overlap: only the shared 10-token range is cut
    assert out[2].trimmed_text == "x other ending"
    assert out[2].n_cut_spans == 1 and out[2].kept_tokens == 3
    # untouched docs
    assert out[3].trimmed_text.startswith("totally different")
    assert out[5].trimmed_text == "short doc" and out[5].n_tokens == 2
    # full duplicate trims to empty
    assert out[4].trimmed_text == "" and out[4].kept_tokens == 0
    assert out[4].n_cut_spans == 1 and out[4].n_tokens == 13


def test_exact_substr_trim_merges_overlapping_cuts(spark):
    from fluent_bit_spark.extensions.text import exact_substr_trim

    # doc 2 repeats an 11-token substring of doc 1 -> two overlapping
    # 10-token dup windows that must merge into ONE maximal cut interval
    base = "p q r s t u v w x y z"
    docs = spark.createDataFrame(
        [(1, base + " alpha"), (2, "pre " + base + " post")],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in exact_substr_trim(docs, window=10).collect()}
    assert out[1].n_cut_spans == 0
    assert out[2].n_cut_spans == 1  # overlapping windows merged
    assert out[2].trimmed_text == "pre post"


def test_nb_train_score_separates_and_handles_oov(spark):
    import math

    from fluent_bit_spark.extensions.classifier import nb_train_score

    rows = [
        (1, "good clean prose sentence", "hi"),
        (2, "good wonderful clean text", "hi"),
        (3, "spam junk garbage noise", "lo"),
        (4, "junk noise spam spam spam", "lo"),
        (5, "clean wonderful prose", "??"),
        (6, "garbage noise junk", "??"),
        (7, "never seen tokens anywhere", "??"),  # all-OOV
        (8, "", "??"),  # empty text -> prior only
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, label string")
    out = {r.doc_id: r for r in nb_train_score(df, "label", "hi", "lo").collect()}
    assert out[5].pred == "hi" and out[5].score > 0
    assert out[6].pred == "lo" and out[6].score < 0
    # equal class priors: empty doc scores exactly 0, predicts neg
    assert out[8].score == 0.0 and out[8].pred == "lo"
    # all-OOV doc: 4 tokens x the smoothed unseen ratio + prior; the neg
    # class has one more training token, so unseen tokens lean slightly pos
    tp, tn, v = 8.0, 9.0, 10.0  # seed token totals and vocab size
    oov = math.log(1.0 / (tp + v)) - math.log(1.0 / (tn + v))
    assert oov > 0
    assert abs(out[7].score - round(4 * oov, 6)) < 1e-9
    # training rows themselves classify correctly
    assert out[1].pred == "hi" and out[3].pred == "lo"


def test_nb_train_score_raises_on_empty_seed(spark):
    import pytest as _pytest

    from fluent_bit_spark.extensions.classifier import nb_train_score

    df = spark.createDataFrame(
        [(1, "some text", "a")], "doc_id long, text string, label string"
    )
    with _pytest.raises(ValueError):
        nb_train_score(df, "label", "a", "zzz").collect()


def test_token_budget_select_greedy_prefix(spark):
    from pyspark.sql import functions as F

    from fluent_bit_spark.extensions.mixing import token_budget_select

    rows = [
        # key 'a': supply 60, budget 25 -> keep 30 (crossing doc included)
        (1, "a", 30),
        (2, "a", 20),
        (3, "a", 10),
        # key 'b': supply 15 <= budget -> keep everything (bypass path)
        (4, "b", 10),
        (5, "b", 5),
    ]
    df = spark.createDataFrame(rows, "doc_id long, k string, toks long")
    out = token_budget_select(
        df, "k", [F.col("toks").desc(), F.col("doc_id")], budget=25,
        token_col="toks",
    )
    got = sorted(r.doc_id for r in out.collect())
    assert got == [1, 4, 5]
    # per-key override: raising a's budget to 45 admits the next doc
    out2 = token_budget_select(
        df, "k", [F.col("toks").desc(), F.col("doc_id")], budget=25,
        token_col="toks", budgets={"a": 45},
    )
    assert sorted(r.doc_id for r in out2.collect()) == [1, 2, 4, 5]
    import pytest as _pytest

    with _pytest.raises(ValueError):
        token_budget_select(df, "k", ["doc_id"], budget=-1, token_col="toks")


def test_shuffle_shards_deterministic_permutation(spark):
    from fluent_bit_spark.extensions.mixing import shuffle_shards

    df = spark.createDataFrame(
        [(i,) for i in range(200)], "doc_id long"
    )
    a = {r.doc_id: (r.shard, r.pos) for r in shuffle_shards(df, 8, seed="s").collect()}
    b = {r.doc_id: (r.shard, r.pos) for r in
         shuffle_shards(df.repartition(7), 8, seed="s").collect()}
    assert a == b  # pure function of (id, seed): partitioning-invariant
    c = {r.doc_id: (r.shard, r.pos) for r in shuffle_shards(df, 8, seed="t").collect()}
    assert a != c  # seed changes the permutation
    # every shard's positions are exactly 0..count-1
    from collections import defaultdict

    by_shard = defaultdict(list)
    for shard, pos in a.values():
        by_shard[shard].append(pos)
    assert all(sorted(v) == list(range(len(v))) for v in by_shard.values())
    assert set(by_shard) <= set(range(8)) and len(by_shard) == 8


def test_exact_substr_trim_against_benchmark(spark):
    from fluent_bit_spark.extensions.text import exact_substr_trim_against

    docs = spark.createDataFrame(
        [
            (1, "q a b c d e f g h i j tail"),        # quotes the benchmark
            (2, "a b c d e f g h i j"),                # IS the benchmark: all cut
            (3, "clean doc with other words entirely present here ok fine"),
        ],
        "doc_id long, text string",
    )
    bench = spark.createDataFrame(
        [("a b c d e f g h i j",), ("short",)], "text string"
    )
    out = {
        r.doc_id: r
        for r in exact_substr_trim_against(docs, bench, window=10).collect()
    }
    # no canonical copy survives: EVERY occurrence is cut
    assert out[1].trimmed_text == "q tail" and out[1].n_cut_spans == 1
    assert out[2].trimmed_text == "" and out[2].kept_tokens == 0
    assert out[3].trimmed_text.startswith("clean doc")
    # sub-window benchmark entries contribute no hashes
    assert out[3].n_cut_spans == 0


def test_leakage_safe_split_no_straddling_cliques(spark):
    from pyspark.sql import functions as F

    from fluent_bit_spark.extensions.mixing import leakage_safe_split

    docs = spark.createDataFrame(
        [(i, f"doc {i}") for i in range(30)], "doc_id long, text string"
    )
    # chains: 0-1-2 one component, 5-6 another; rest singletons
    pairs = spark.createDataFrame(
        [(0, 1), (1, 2), (5, 6)], "id_a long, id_b long"
    )
    out = leakage_safe_split(docs, pairs, {"train": 0.8, "test": 0.2})
    rows = {r.doc_id: (r.component, r.split) for r in out.collect()}
    # transitive closure: 0,1,2 share a component AND a split
    assert rows[0] == rows[1] == rows[2]
    assert rows[5] == rows[6]
    # singletons are their own component
    assert rows[10][0] == 10
    # every doc got exactly one split name
    assert set(s for _, s in rows.values()) <= {"train", "test"}
    # determinism under re-partitioning
    again = {
        r.doc_id: (r.component, r.split)
        for r in leakage_safe_split(
            docs.repartition(7), pairs, {"train": 0.8, "test": 0.2}
        ).collect()
    }
    assert again == rows


def test_fuzzy_join_trigram_linkage(spark):
    """Trigram fuzzy join: known-similarity pairs against an independent
    Python scorer, normalization/punctuation invariance, empty-key drop,
    and the stop-gram prune never reports a wrong similarity (verify is
    exact) — it can only lose pairs."""
    from fluent_bit_spark.extensions.linkage import fuzzy_join_trigram

    left = spark.createDataFrame(
        [
            (1, "Acme Corporation"),
            (2, "ACME Corp."),
            (3, "acme-corporation inc"),
            (4, "Zenith Widgets"),
            (5, "???"),  # normalizes to empty -> dropped
        ],
        ["lid", "name"],
    )
    right = spark.createDataFrame(
        [
            (10, "acme corporation"),
            (11, "Zenith  Widget's"),
            (12, "Completely Different LLC"),
        ],
        ["rid", "name"],
    )

    def grams(s):
        import re

        n = re.sub(r"[^a-z0-9]+", " ", s.lower()).strip()
        p = f"  {n} "
        return {p[i : i + 3] for i in range(len(p) - 2)}

    def jac(a, b):
        ga, gb = grams(a), grams(b)
        return len(ga & gb) / len(ga | gb)

    lnames = {1: "Acme Corporation", 2: "ACME Corp.", 3: "acme-corporation inc", 4: "Zenith Widgets"}
    rnames = {10: "acme corporation", 11: "Zenith  Widget's", 12: "Completely Different LLC"}
    expected = {
        (l, r): jac(ln, rn)
        for l, ln in lnames.items()
        for r, rn in rnames.items()
        if jac(ln, rn) >= 0.4
    }

    got = {
        (r.lid, r.rid): r.sim
        for r in fuzzy_join_trigram(
            left, right, "lid", "name", "rid", "name", threshold=0.4
        ).collect()
    }
    assert set(got) == set(expected)
    for k, v in expected.items():
        assert abs(got[k] - v) < 1e-12, (k, got[k], v)
    # punctuation/case-invariant exact match scores 1.0
    assert got[(1, 10)] == 1.0
    # id 5 (empty after normalization) never appears
    assert all(l != 5 for l, _ in got)

    # pruned run: subset of the exact result, identical sims on survivors
    pruned = {
        (r.lid, r.rid): r.sim
        for r in fuzzy_join_trigram(
            left, right, "lid", "name", "rid", "name",
            threshold=0.4, max_gram_df=2,
        ).collect()
    }
    assert set(pruned) <= set(got)
    for k, v in pruned.items():
        assert v == got[k]

    # self-join: no ambiguous-lineage failure, prefixed id columns
    self_out = fuzzy_join_trigram(
        left, left, "lid", "name", "lid", "name", threshold=0.5
    )
    assert self_out.columns == ["l_lid", "r_lid", "sim"]
    pairs = {(r.l_lid, r.r_lid) for r in self_out.where("l_lid < r_lid").collect()}
    assert (1, 3) in pairs  # acme corporation ~ acme-corporation inc


def test_resolve_entities_transitive(spark):
    """A~B and B~C below-threshold-A~C still share one entity via the
    transitive closure; unrelated rows and empty keys map to themselves."""
    from fluent_bit_spark.extensions.linkage import resolve_entities

    df = spark.createDataFrame(
        [
            (1, "international business machines corporation"),
            (2, "international business machines corp"),
            (3, "intl business machines corp"),
            (4, "zenith widgets"),
            (5, "--"),
        ],
        ["id", "name"],
    )
    got = {r.id: r.entity_id for r in resolve_entities(df, "id", "name", threshold=0.6).collect()}
    assert len(got) == 5          # every input row assigned
    assert got[1] == got[2] == got[3] == 1   # one entity, min-id canonical
    assert got[4] == 4 and got[5] == 5       # singleton + empty-key self-map


def test_fuzzy_join_prefix_filter_exact(spark):
    """The AllPairs prefix filter is lossless: on a corpus with hot and
    rare grams, prefix-filtered results (default) equal the exhaustive
    gram join exactly — pairs AND similarities — at several thresholds
    and gram lengths."""
    from fluent_bit_spark.extensions.linkage import fuzzy_join_trigram

    # deterministic dirty corpus: shared hot words + per-row rare tails
    rows = []
    for i in range(40):
        base = f"acme global w{i % 7}x w{i % 11}y item{i}"
        rows.append((i, base))
        if i % 4 == 0:
            rows.append((1000 + i, base + " ltd"))
    df = spark.createDataFrame(rows, ["id", "name"])

    for thr in (0.45, 0.7):
        for q in (3, 4):
            exact = {
                (r.l_id, r.r_id): r.sim
                for r in fuzzy_join_trigram(
                    df, df, "id", "name", "id", "name",
                    threshold=thr, prefix_filter=False, gram_n=q,
                ).where("l_id < r_id").collect()
            }
            pref = {
                (r.l_id, r.r_id): r.sim
                for r in fuzzy_join_trigram(
                    df, df, "id", "name", "id", "name",
                    threshold=thr, gram_n=q,
                ).where("l_id < r_id").collect()
            }
            assert pref == exact, (thr, q, set(exact) ^ set(pref))
    assert exact  # the corpus really produces matches


def test_edit_distance_join_vs_bruteforce(spark):
    """EDJoin prefix-filtered candidates + levenshtein verify equal a
    brute-force all-pairs scan (independent Python Levenshtein) at
    several k and q — completeness of the k*q+1 prefix bound."""
    import re

    from fluent_bit_spark.extensions.linkage import edit_distance_join

    names = [
        "acme corporation", "acme corporatio", "acme corp", "acme corpn",
        "zenith widgets", "zenith widgets!", "zenth widgets", "zenith widgets co",
        "globex", "globexx", "glob ex", "initech", "intech", "completely other",
    ]
    rows = [(i, n) for i, n in enumerate(names)]
    df = spark.createDataFrame(rows, ["id", "name"])

    def norm(s):
        return re.sub(r"[^a-z0-9]+", " ", s.lower()).strip()

    def lev(a, b):
        if len(a) < len(b):
            a, b = b, a
        prev = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            cur = [i]
            for j, cb in enumerate(b, 1):
                cur.append(min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + (ca != cb)))
            prev = cur
        return prev[-1]

    for k in (1, 2):
        for q in (2, 3):
            want = {
                (i, j): lev(norm(a), norm(b))
                for i, a in rows
                for j, b in rows
                if i < j and lev(norm(a), norm(b)) <= k
            }
            got = {
                (r.l_id, r.r_id): r.dist
                for r in edit_distance_join(
                    df, df, "id", "name", "id", "name", max_dist=k, gram_n=q
                ).where("l_id < r_id").collect()
            }
            assert got == want, (k, q, set(want) ^ set(got))
    assert want  # non-trivial corpus


def test_fuzzy_join_random_corpus_bruteforce(spark):
    """Seeded pseudo-random corpus (mixed alphabets, unicode, punctuation,
    near-empty keys): prefix-filtered fuzzy join equals a full brute-force
    scan with an independent Python scorer."""
    import random
    import re

    from fluent_bit_spark.extensions.linkage import fuzzy_join_trigram

    rng = random.Random(20260815)
    words = ["café", "naïve", "Ωmega", "data", "x1", "--", "smith&co", "北京", "o'neil"]
    rows = []
    for i in range(120):
        k = rng.randint(0, 4)
        name = " ".join(rng.choice(words) for _ in range(k))
        if rng.random() < 0.3:
            name += rng.choice(["!", " ltd", "  ", "#", ""])
        rows.append((i, name))
    df = spark.createDataFrame(rows, ["id", "name"])

    def grams(s):
        n = re.sub(r"[^a-z0-9]+", " ", s.lower()).strip()
        if not n:
            return None
        p = f"  {n} "
        return {p[i : i + 3] for i in range(len(p) - 2)}

    want = {}
    for i, a in rows:
        for j, b in rows:
            if i >= j:
                continue
            ga, gb = grams(a), grams(b)
            if ga is None or gb is None:
                continue
            sim = len(ga & gb) / len(ga | gb)
            if sim >= 0.5:
                want[(i, j)] = sim
    got = {
        (r.l_id, r.r_id): r.sim
        for r in fuzzy_join_trigram(
            df, df, "id", "name", "id", "name", threshold=0.5
        ).where("l_id < r_id").collect()
    }
    assert set(got) == set(want)
    for k2, v in want.items():
        assert abs(got[k2] - v) < 1e-12
    assert want  # corpus must actually produce matches


def test_funnel_levels_semantics(spark):
    """Funnel edge cases vs an independent Python model: window
    truncation, strict time ordering (same-ts step doesn't count),
    out-of-order events, level-0 users, repeated steps."""
    import datetime as dt

    from fluent_bit_spark.extensions.funnel import funnel_levels

    T0 = dt.datetime(2024, 1, 1)

    def ev(u, t_s, typ):
        return (u, T0 + dt.timedelta(seconds=t_s), typ)

    rows = [
        # u1: full funnel within window
        ev(1, 0, "view"), ev(1, 10, "click"), ev(1, 20, "purchase"),
        # u2: click BEFORE view -> stuck at level 1
        ev(2, 0, "click"), ev(2, 10, "view"),
        # u3: click at same ts as view -> strict > fails -> level 1
        ev(3, 5, "view"), ev(3, 5, "click"),
        # u4: click outside window -> level 1
        ev(4, 0, "view"), ev(4, 200, "click"),
        # u5: only unrelated events -> level 0
        ev(5, 0, "purchase"), ev(5, 1, "error"),
        # u6: earliest click in-window, purchase outside -> level 2
        ev(6, 0, "view"), ev(6, 1, "click"), ev(6, 500, "purchase"),
        # u7: greedy-earliest anchor: first view at 0, second at 90;
        # click at 100, purchase at 101 -> anchor stays at 0, click
        # within window (100<=120) -> purchase too -> level 3
        ev(7, 0, "view"), ev(7, 90, "view"), ev(7, 100, "click"), ev(7, 101, "purchase"),
    ]
    df = spark.createDataFrame(rows, ["user_id", "ts", "event_type"])
    got = {
        r.user_id: r.funnel_level
        for r in funnel_levels(
            df, ["view", "click", "purchase"], window=120
        ).collect()
    }
    assert got == {1: 3, 2: 1, 3: 1, 4: 1, 5: 0, 6: 2, 7: 3}, got


def test_active_users_window_and_paths(spark):
    """Rolling active-user window vs hand-computed expectations, and
    session-path extraction (gap split, step cap, count ordering)."""
    import datetime as dt

    from fluent_bit_spark.extensions.funnel import (
        active_users_window,
        top_session_paths,
    )

    T0 = dt.datetime(2024, 3, 1)

    def ev(u, day, sec, typ="view"):
        return (u, T0 + dt.timedelta(days=day, seconds=sec), typ)

    rows = [
        ev(1, 0, 0), ev(1, 0, 10, "click"),          # u1 day0: one session view>click
        ev(1, 0, 10_000, "purchase"),                # gap > 30min -> new session
        ev(2, 0, 50), ev(2, 3, 0),                   # u2 active day0 and day3
        ev(3, 9, 0),                                 # u3 only day9
    ]
    df = spark.createDataFrame(rows, ["user_id", "ts", "event_type"])

    au = {r.window_end: r.active_users for r in active_users_window(df, 7).collect()}
    # observed activity days: 0, 3, 9
    assert au == {"2024-03-01": 2, "2024-03-04": 2, "2024-03-10": 2}, au
    # day3 window covers day0 (u1,u2); day9 window covers day3 (u2) + day9 (u3)

    paths = {r.path: r.sessions for r in top_session_paths(df, gap=1800, max_steps=5, k=10).collect()}
    assert paths == {"view>click": 1, "purchase": 1, "view": 3}, paths


def test_active_users_window_sliding_mode(spark):
    """mode='sliding' (per-day HLL sketches merged per window end — the
    long-window shape whose fan-out lands on the day table, not the
    corpus) must agree with the exact explode form on overlapping
    ranges: at test cardinalities the sketches are below the sparse
    threshold, so the estimates are exactly the distinct counts."""
    import datetime as dt

    import pytest as _pytest

    from pyspark.sql import functions as F

    from fluent_bit_spark.extensions.funnel import active_users_window

    T0 = dt.datetime(2024, 3, 1)
    # 40 users over 120 days with overlapping, gappy activity
    rows = []
    for u in range(1, 41):
        for day in range(0, 120, u % 11 + 1):
            rows.append((u, T0 + dt.timedelta(days=day, seconds=u)))
    df = spark.createDataFrame(rows, ["user_id", "ts"])

    for wd in (7, 60):
        exact = {
            r.window_end: r.active_users
            for r in active_users_window(df, wd).collect()
        }
        approx = {
            r.window_end: int(round(r.active_users))
            for r in active_users_window(df, wd, mode="sliding").collect()
        }
        assert approx == exact, (wd, {
            k: (exact[k], approx[k]) for k in exact if approx.get(k) != exact[k]
        })

    # the sliding plan's x-window_days explode touches the DAY table:
    # its exploded row count is n_days * window_days, independent of users
    n_days = df.select(F.to_date("ts")).distinct().count()
    assert n_days == 120
    with _pytest.raises(ValueError, match="mode"):
        active_users_window(df, 7, mode="nope")


def test_attribution_models(spark):
    """First/last-touch and linear attribution vs hand-computed credit:
    lookback cut, strict before-conversion rule, same-ts channel
    tie-break, (direct) fallback, fractional linear splits."""
    import datetime as dt

    import pytest as _pytest

    from fluent_bit_spark.extensions.funnel import attribution

    T0 = dt.datetime(2024, 7, 1)

    def ev(u, sec, typ, val=0.0):
        return (u, T0 + dt.timedelta(seconds=sec), typ, val)

    rows = [
        # u1: view(0), click(50), purchase(100, $90); the 60s lookback
        # EXCLUDES view(0) (100s before), so click is u1's only
        # qualifying touch under every model
        ev(1, 0, "view"), ev(1, 50, "click"), ev(1, 100, "purchase", 90.0),
        # u2: touch outside the 60s lookback -> (direct)
        ev(2, 0, "view"), ev(2, 1000, "purchase", 10.0),
        # u3: no touches at all -> (direct)
        ev(3, 0, "purchase", 5.0),
        # u4: two touches at the SAME ts -> tie-break: last=view (desc),
        # first=click (asc); linear splits across both
        ev(4, 10, "view"), ev(4, 10, "click"), ev(4, 20, "purchase", 8.0),
        # u5: TWO conversions at the SAME ts after one touch: each must
        # earn a full credit and both values must attribute (the
        # duplicate-conversion corner: window replay alone merges them)
        ev(5, 0, "view"), ev(5, 30, "purchase", 10.0),
        ev(5, 30, "purchase", 20.0),
        # u6: duplicate same-ts conversions with no touch -> (direct) x2
        ev(6, 0, "purchase", 3.0), ev(6, 0, "purchase", 4.0),
    ]
    df = spark.createDataFrame(rows, ["user_id", "ts", "event_type", "value"])

    def got(model):
        return {
            r.channel: (r.credit, r.attributed_value)
            for r in attribution(
                df, conversion="purchase", touch_types=["view", "click"],
                lookback=60.0, model=model,
            ).collect()
        }

    last = got("last_touch")
    assert last == {
        "click": (1.0, 90.0), "view": (3.0, 38.0), "(direct)": (4.0, 22.0)
    }, last
    first = got("first_touch")  # u1: click; u4 tie asc -> click
    assert first == {
        "click": (2.0, 98.0), "view": (2.0, 30.0), "(direct)": (4.0, 22.0)
    }, first
    lin = got("linear")  # u1: click 90; u4: 4/4 split; u5: 1 touch x2
    assert lin == {
        "click": (1.5, 94.0), "view": (2.5, 34.0), "(direct)": (4.0, 22.0)
    }, lin

    with _pytest.raises(ValueError, match="model"):
        attribution(df, model="u_shaped")


def test_event_transitions_and_rfm(spark):
    """Transition matrix vs hand-derived counts (session boundary cuts
    the chain) and RFM scores on a corpus with known order."""
    import datetime as dt

    from fluent_bit_spark.extensions.funnel import event_transitions, rfm_segments

    T0 = dt.datetime(2024, 5, 1)

    def ev(u, sec, typ, val=0.0):
        return (u, T0 + dt.timedelta(seconds=sec), typ, val)

    rows = [
        ev(1, 0, "view"), ev(1, 10, "click"), ev(1, 20, "view"),
        ev(1, 10_000, "view"), ev(1, 10_010, "click"),   # new session: no view->view link across gap
        ev(2, 0, "view"), ev(2, 5, "purchase", 100.0),
    ]
    df = spark.createDataFrame(rows, ["user_id", "ts", "event_type", "value"])

    tr = {(r.src, r.dst): (r.transitions, r.prob) for r in event_transitions(df, gap=1800).collect()}
    assert tr[("view", "click")][0] == 2
    assert tr[("click", "view")][0] == 1
    assert tr[("view", "purchase")][0] == 1
    assert ("view", "view") not in tr          # gap cut the chain
    assert abs(tr[("view", "click")][1] - 2 / 3) < 1e-12
    assert abs(sum(p for (_, _), (_, p) in [(k, v) for k, v in tr.items() if k[0] == "view"]) - 1.0) < 1e-12

    rfm = {r.user_id: r for r in rfm_segments(df, n_tiles=2).collect()}
    assert rfm[1].frequency == 5 and rfm[2].frequency == 2
    assert rfm[1].monetary == 0.0 and rfm[2].monetary == 100.0
    assert rfm[1].recency_days == 0 and rfm[2].recency_days == 0
    assert rfm[1].f == 1 and rfm[2].f == 2     # freq desc: u1 best
    assert rfm[2].m == 1 and rfm[1].m == 2     # monetary desc: u2 best


def test_rfm_percentile_cut_variant(spark):
    """exact_tiles=False: percentile-boundary scoring — no global ntile
    sort. On a corpus with well-separated per-user metrics the buckets
    are range-correct (1 = best), monotone in the metric, and
    near-balanced; metric VALUES equal the exact variant's."""
    import datetime as dt

    from fluent_bit_spark.extensions.funnel import rfm_segments

    T0 = dt.datetime(2024, 5, 1)
    rows = []
    for u in range(1, 21):
        # user u: u events on day (u % 5), purchase value 10*u
        day = T0 + dt.timedelta(days=u % 5)
        rows += [(u, day + dt.timedelta(seconds=s), "view", 0.0) for s in range(u)]
        rows.append((u, day + dt.timedelta(seconds=100), "purchase", 10.0 * u))
    df = spark.createDataFrame(rows, ["user_id", "ts", "event_type", "value"])

    exact = {r.user_id: r for r in rfm_segments(df, n_tiles=4).collect()}
    pct = {r.user_id: r for r in rfm_segments(df, n_tiles=4, exact_tiles=False).collect()}
    assert set(pct) == set(exact)
    for u in pct:
        p, e = pct[u], exact[u]
        assert (p.recency_days, p.frequency, p.monetary) == (
            e.recency_days, e.frequency, e.monetary)
        assert 1 <= p.r <= 4 and 1 <= p.f <= 4 and 1 <= p.m <= 4
    # monotone: higher monetary never gets a worse (higher) m score
    su = sorted(pct.values(), key=lambda r: -r.monetary)
    assert all(a.m <= b.m for a, b in zip(su, su[1:]))
    # near-balanced m tiles on 20 distinct values
    from collections import Counter
    sizes = Counter(r.m for r in pct.values())
    assert all(3 <= sizes[t] <= 7 for t in (1, 2, 3, 4)), sizes
    # best/worst monetary users anchor the extremes
    assert pct[20].m == 1 and pct[1].m == 4


def test_session_summaries_and_experiment_stats(spark):
    """Session table vs hand expectations; A/B stats vs a closed-form
    Python calculation."""
    import datetime as dt
    import math

    from fluent_bit_spark.extensions.funnel import (
        experiment_stats,
        session_summaries,
    )

    T0 = dt.datetime(2024, 6, 1)

    def ev(u, sec, typ):
        return (u, T0 + dt.timedelta(seconds=sec), typ)

    rows = [
        ev(1, 0, "view"), ev(1, 30, "click"), ev(1, 60, "view"),
        ev(1, 10_000, "purchase"),            # second session
        ev(2, 0, "view"),                     # single-event session
        ev(3, 0, "view"), ev(3, 5, "purchase"),
        ev(4, 0, "view"),
    ]
    df = spark.createDataFrame(rows, ["user_id", "ts", "event_type"])

    ss = {(r.user_id, r.session): r for r in session_summaries(df, gap=1800).collect()}
    assert len(ss) == 5
    s11 = ss[(1, 1)]
    assert s11.n_events == 3 and s11.n_event_types == 2 and s11.duration_s == 60.0
    assert ss[(1, 2)].n_events == 1 and ss[(1, 2)].duration_s == 0.0
    assert ss[(2, 1)].n_events == 1

    # variants: 0 -> users {2,4} conv 0/2; 1 -> users {1,3} conv 2/2
    ab = {
        r.variant: r
        for r in experiment_stats(
            df.withColumn("variant", (df.user_id % 2).cast("int")),
            target="purchase",
        ).collect()
    }
    assert ab[0].users == 2 and ab[0].converters == 0 and ab[0].conv_rate == 0.0
    assert ab[1].users == 2 and ab[1].converters == 2 and ab[1].conv_rate == 1.0
    assert ab[0].z_vs_baseline == 0.0
    pool = 2 / 4
    z = (1.0 - 0.0) / math.sqrt(pool * (1 - pool) * (1 / 2 + 1 / 2))
    assert abs(ab[1].z_vs_baseline - z) < 1e-12


def test_log_templates_mining(spark):
    """Template discovery: wildcard exactly the varying positions,
    verbatim constants, correct supports, whitespace-noise tolerance."""
    from fluent_bit_spark.extensions.logmine import log_templates

    lines = (
        [f"conn from 10.0.0.{i} port {1000 + i} accepted" for i in range(20)]
        + [f"disk  /dev/sd{c}   almost full" for c in "abc"]  # messy spacing
        + ["heartbeat ok"] * 5
        + [""]  # dropped
    )
    df = spark.createDataFrame([(s,) for s in lines], ["message"])
    got = {r.template: r.n_lines for r in log_templates(df).collect()}
    assert got == {
        "conn from <*> port <*> accepted": 20,
        "disk <*> almost full": 3,
        "heartbeat ok": 5,
    }, got


def test_log_templates_level2_split(spark):
    """Two genuinely different templates sharing (token count, first
    token) — the case level-1 grouping over-wildcards into one
    'conn <*> <*>' template. The level-2 split on the most-constant
    early position (state: opened/closed) separates them; a
    parameter-ish position (3 distinct devices over 3 lines) does NOT
    trigger a split because it fails the 2*d <= lines support guard."""
    from fluent_bit_spark.extensions.logmine import log_templates

    lines = (
        [f"conn host{i} opened" for i in range(10)]
        + [f"conn host{i} closed" for i in range(10, 16)]
        + [f"disk /dev/sd{c} full" for c in "abc"]
    )
    df = spark.createDataFrame([(s,) for s in lines], ["message"])
    refined = {r.template: r.n_lines for r in log_templates(df).collect()}
    assert refined == {
        "conn <*> opened": 10,
        "conn <*> closed": 6,
        "disk <*> full": 3,
    }, refined
    # level 2 off: the two conn templates collapse (the over-wildcard
    # this refinement exists to fix)
    flat = {
        r.template: r.n_lines
        for r in log_templates(df, split_max_branch=0).collect()
    }
    assert flat == {"conn <*> <*>": 16, "disk <*> full": 3}, flat


def test_triangle_count_known_graph(spark):
    """Degree-oriented triangle counting vs hand-counted graph: one
    K4 (4 triangles, 3 per node), one separate triangle, a pendant
    node (0), and duplicate/reverse/self edges that must collapse."""
    from fluent_bit_spark.extensions.graph import triangle_count

    k4 = [(a, b) for a in range(4) for b in range(a)]
    edges = (
        k4
        + [(10, 11), (11, 12), (12, 10)]          # separate triangle
        + [(0, 20)]                               # pendant: no triangle
        + [(1, 0), (0, 1), (5, 5)]                # reverse dup + self loop
    )
    df = spark.createDataFrame(edges, "src bigint, dst bigint")
    got = {r.node: r.triangles for r in triangle_count(df).collect()}
    assert got == {0: 3, 1: 3, 2: 3, 3: 3, 10: 1, 11: 1, 12: 1, 20: 0}, got


def test_skew_profile_and_winsorize(spark):
    """skew_profile: exact top-N counts/shares + summary rows on a
    deliberately skewed key; winsorize: clipping bounds hold, interior
    values untouched, NULLs pass through, degenerate column raises."""
    import pytest
    from pyspark.sql import functions as F

    from fluent_bit_spark.extensions.sketches import skew_profile, winsorize

    rows = [("hot",)] * 70 + [("warm",)] * 20 + [(f"k{i}",) for i in range(10)]
    df = spark.createDataFrame(rows, "k string")
    prof = {
        (r.kind, r.key): (r.rows, r.share, r.value)
        for r in skew_profile(df, "k", top_n=3).collect()
    }
    assert prof[("key", "hot")] == (70, 0.7, None)
    assert prof[("key", "warm")] == (20, 0.2, None)
    assert prof[("total_rows", None)] == (100, 1.0, None)
    assert prof[("distinct_keys", None)][0] == 12
    # the ratio's numerator rides value; rows stays NULL (not a row count)
    assert prof[("max_key_share", None)] == (None, 0.7, 70.0)
    assert len([k for k in prof if k[0] == "key"]) == 3

    vals = [(i, float(i)) for i in range(1, 101)] + [(999, None)]
    vdf = spark.createDataFrame(vals, "id long, v double")
    out = {r.id: r.v for r in winsorize(vdf, "v", 0.1, 0.9).collect()}
    lo = min(v for i, v in out.items() if v is not None)
    hi = max(v for i, v in out.items() if v is not None)
    assert abs(lo - 10.9) < 1e-9 and abs(hi - 90.1) < 1e-9  # quantile_cont cuts
    assert out[50] == 50.0 and out[999] is None
    assert out[1] == lo and out[100] == hi

    with pytest.raises(ValueError, match="no non-null"):
        winsorize(vdf.filter("v IS NULL"), "v").collect()


def test_heavy_hitters_exact_and_mg_guarantee(spark):
    """Heavy hitters: exact counts for every key above n/k, no false
    positives/negatives vs a brute-force groupBy (including across a
    skew split over many partitions), hot NULL keys surface, and the
    one-scan MG mode never misses a true heavy hitter."""
    from pyspark.sql import functions as F

    from fluent_bit_spark.extensions.sketches import heavy_hitters

    # 10k rows, zipf-ish: key i appears ~ 3000/i times for i in 1..10,
    # plus a long tail of singletons and 600 NULLs
    rows = []
    for i in range(1, 11):
        rows += [(f"hot{i}",)] * (3000 // i)
    rows += [(f"tail{j}",) for j in range(2000)]
    rows += [(None,)] * 600
    df = spark.createDataFrame(rows, "k string").repartition(16)

    n = len(rows)
    k = 20
    truth = {
        r.k: r.c
        for r in df.where("k IS NOT NULL").groupBy("k")
        .agg(F.count(F.lit(1)).alias("c")).collect()
        if r.c > n / k
    }
    got = {r.key: r["count"] for r in heavy_hitters(df, "k", k=k).collect()}
    assert got.pop(None) == 600            # hot NULL surfaces with exact count
    assert got == truth, (got, truth)

    # one-scan MG mode: a candidate SUPERSET with lower-bound counts —
    # every true heavy hitter present (no false negatives), every
    # estimate within [true - n/k, true]
    mg = {r.key: r["count"] for r in heavy_hitters(df, "k", k=k, exact=False).collect()}
    mg.pop(None, None)
    full_truth = {
        r.k: r.c
        for r in df.where("k IS NOT NULL").groupBy("k")
        .agg(F.count(F.lit(1)).alias("c")).collect()
    }
    for key, c in truth.items():
        assert key in mg, key
    for key, est in mg.items():
        assert full_truth[key] - n / k <= est <= full_truth[key], key


def test_robust_anomaly_scores(spark):
    """Median/MAD modified z-score vs hand expectations: robust to a
    contaminated series (the outlier can't inflate its own cutoff),
    degenerate MAD=0 series flag any off-median point, NULLs ignored
    in the aggregates."""
    from fluent_bit_spark.extensions.anomaly import robust_anomaly_scores

    rows = (
        # series A: nine ~10s and one wild 1000 -> median 10, MAD small,
        # the 1000 flags; a mean/std z-score would have sd ~313 and z<3.2
        [("a", float(v)) for v in (9, 9, 10, 10, 10, 10, 11, 11, 12)]
        + [("a", 1000.0)]
        # series B: half-constant -> MAD 0; the 99 still flags
        + [("b", 5.0), ("b", 5.0), ("b", 5.0), ("b", 99.0)]
    )
    df = spark.createDataFrame(rows, "k string, v double")
    out = robust_anomaly_scores(df, "v", ["k"], z_threshold=3.5)
    a = [r for r in out.collect() if r.k == "a"]
    assert all(abs(r.med - 10.0) < 1e-9 for r in a)
    flagged = {r.v for r in a if r.is_anomaly}
    assert flagged == {1000.0}
    # deviations |v - 10| sorted: 0,0,0,0,1,1,1,1,2,990 -> median 1.0
    assert a[0].mad == 1.0
    assert any(abs(r.robust_z - round(0.6745 * 990.0, 6)) < 1e-6 for r in a)
    b = {r.v: r for r in out.collect() if r.k == "b"}
    assert b[5.0].mad == 0.0 and not b[5.0].is_anomaly
    assert b[99.0].is_anomaly and b[99.0].robust_z == 0.0


def test_gif_animation_frames(spark):
    """Multi-frame GIF composition as a Spark operator: transparency
    holes keep the canvas, disposal restore-background/restore-previous
    honored, ts_ms accumulates prior delays, non-GIF payloads emit
    nothing — r9 verdict envelope edge #4."""
    import numpy as np

    from pyspark.sql import functions as F

    from fluent_bit_spark.extensions.multimodal import (
        gif_animation_frames, make_gif_animation,
    )

    base = np.arange(72, dtype=np.uint8).reshape(8, 9)
    anim = make_gif_animation(9, 8, [
        (0, 0, 9, 8, base.tobytes(), 1, 1, None),
        (0, 0, 2, 1, bytes([200, 255]), 2, 1, 255),  # 2nd px transparent
        (3, 3, 2, 2, bytes([9] * 4), 3, 2, None),    # restore-bg after
    ])
    df = spark.createDataFrame(
        [(1, bytearray(anim)), (2, bytearray(b"not a gif"))],
        "media_id long, content binary",
    )
    rows = sorted(
        gif_animation_frames(df).collect(), key=lambda r: r.frame_idx
    )
    assert [r.media_id for r in rows] == [1, 1, 1]
    assert [r.delay_ms for r in rows] == [10, 20, 30]
    assert [r.ts_ms for r in rows] == [0, 10, 30]
    f1 = np.frombuffer(bytes(rows[1].pixels), np.uint8).reshape(8, 9, 3)
    assert f1[0, 0, 0] == 200 and f1[0, 1, 0] == base[0, 1]  # transparency
    f2 = np.frombuffer(bytes(rows[2].pixels), np.uint8).reshape(8, 9, 3)
    assert (f2[3:5, 3:5, 0] == 9).all()  # rendered before disposal


def test_wav_ima_adpcm_roundtrip():
    """IMA-ADPCM WAV (format 0x11): the decoder reproduces the
    encoder's reconstruction BIT-EXACTLY (same public state machine) in
    mono and stereo (4-byte channel-group interleave), tracks smooth
    signals within codec error, and filters non-envelope/truncated
    payloads — r10 audio envelope extension."""
    import numpy as np

    from fluent_bit_spark.extensions.multimodal import (
        decode_wav_samples, make_wav_ima_adpcm,
    )

    rng = np.random.RandomState(4)
    for sig in (
        (np.sin(np.arange(500) * 0.05) * 12000).astype(np.int64),
        rng.randint(-3000, 3000, 400).astype(np.int64),
        np.arange(-200, 300, dtype=np.int64) * 40,
    ):
        for nch, ba in [(1, 64), (2, 72), (1, 256)]:
            wav, recon = make_wav_ima_adpcm(
                8000, sig, channels=nch, block_align=ba
            )
            rate, x = decode_wav_samples(wav)
            assert rate == 8000
            dec16 = np.round(x * 32768).astype(np.int64)
            assert len(dec16) == len(recon)
            assert (dec16 == recon.astype(np.int64)).all(), (nch, ba)
    # ramp of +40/sample: ADPCM tracks within one small step
    ramp = np.arange(-200, 300, dtype=np.int64) * 40
    _, recon = make_wav_ima_adpcm(8000, ramp)
    assert np.abs(recon[: len(ramp)].astype(np.int64) - ramp).max() <= 64
    wav, _ = make_wav_ima_adpcm(8000, ramp)
    for cut in range(0, len(wav), 7):
        decode_wav_samples(wav[:cut])  # truncation never raises


def test_media_sniff_extended_formats():
    """WebP (VP8/VP8L/VP8X), FLAC STREAMINFO, MP3 frame header (plain +
    behind ID3v2), and TIFF IFD (both endiannesses, SHORT and LONG tag
    types, multi-value tags skipped) all sniff with exact fields;
    truncations never raise — r10 corpus-triage extension."""
    from fluent_bit_spark.extensions.multimodal import (
        make_flac, make_mp3, make_tiff, make_webp,
        parse_media_header as P,
    )

    g = P(make_webp(320, 180, "vp8"))
    assert (g["format"], g["width"], g["height"]) == ("webp", 320, 180)
    g = P(make_webp(1001, 707, "vp8l"))
    assert (g["width"], g["height"]) == (1001, 707)
    g = P(make_webp(5000, 3000, "vp8x"))
    assert (g["width"], g["height"]) == (5000, 3000)
    g = P(make_flac(44100, 2, 16, 441000))
    assert (g["format"], g["sample_rate"], g["channels"], g["bit_depth"],
            g["duration_ms"]) == ("flac", 44100, 2, 16, 10000)
    g = P(make_mp3(48000, stereo=False))
    assert (g["format"], g["sample_rate"], g["channels"]) == ("mp3", 48000, 1)
    g = P(make_mp3(44100, stereo=True, id3=True))
    assert (g["sample_rate"], g["channels"]) == (44100, 2)
    g = P(make_tiff(640, 480, 16, 3))
    assert (g["format"], g["width"], g["height"], g["bit_depth"],
            g["channels"]) == ("tiff", 640, 480, 16, 3)
    g = P(make_tiff(99, 77, 8, 1, big_endian=True))
    assert (g["width"], g["height"]) == (99, 77)
    for mk in (make_webp(9, 8), make_flac(8000, 1, 16, 100), make_mp3(),
               make_tiff(4, 4)):
        for cut in range(len(mk)):
            P(mk[:cut])  # truncation never raises


def test_mp3_sniff_rejects_invalid_frame_headers():
    """A bare 0xFF 0xEx prefix is not mp3: the whole frame header must
    validate — reserved version (bits 01), reserved layer (00),
    sample-rate index 3, and bitrate index 0x0 (free-format) / 0xF
    (forbidden) all stay 'unknown', so arbitrary binary starting with a
    sync-looking prefix is not mistriaged (r11 ADVICE fix). ID3-tagged
    payloads keep the mp3 label from the tag magic even when no valid
    frame follows."""
    from fluent_bit_spark.extensions.multimodal import (
        make_mp3, parse_media_header as P,
    )

    good = make_mp3(44100)
    assert P(good)["format"] == "mp3"
    # bitrate index 0xF (forbidden) and 0x0 (free-format): rejected
    for br in (0x0, 0xF):
        bad = bytes([good[0], good[1], (br << 4) | (good[2] & 0x0F),
                     good[3]]) + good[4:]
        assert P(bad)["format"] == "unknown", br
    # reserved version (bits 19-20 == 01): rejected
    bad_ver = bytes([good[0], 0xE0 | (1 << 3) | (1 << 1)]) + good[2:]
    assert P(bad_ver)["format"] == "unknown"
    # reserved layer (00): rejected
    bad_layer = bytes([good[0], 0xE0 | (3 << 3)]) + good[2:]
    assert P(bad_layer)["format"] == "unknown"
    # sample-rate index 3 (reserved): rejected
    bad_sr = bytes([good[0], good[1], (good[2] & 0xF0) | (3 << 2),
                    good[3]]) + good[4:]
    assert P(bad_sr)["format"] == "unknown"
    # random 0xFF 0xEx junk (the ADVICE repro shape): not mp3
    assert P(b"\xff\xee\x00\x00 junk payload")["format"] == "unknown"
    # ID3 magic alone still triages mp3 even with an invalid frame after
    tagged = b"ID3\x04\x00\x00" + bytes([0, 0, 0, 0]) + b"\xff\xe0\xf0\x00"
    assert P(tagged)["format"] == "mp3"


def test_gzip_members_caps_inflation():
    """_gzip_members inflates untrusted .warc.gz in bounded steps and
    stops at the output cap, so a kilobyte-sized gzip bomb cannot expand
    fully into executor memory (r11 ADVICE fix); the truncated blob's
    torn trailing record then drops in Content-Length framing."""
    import gzip

    from fluent_bit_spark.extensions.html import (
        _gzip_members, _split_warc_records, make_warc_gz, make_warc_record,
    )

    bomb = gzip.compress(b"\x00" * (32 * 1024 * 1024))  # ~32 KB compressed
    assert len(bomb) < 64 * 1024
    out = _gzip_members(bomb, max_out=1 << 20)
    assert len(out) == 1 << 20
    # multi-member bombs hit the same ceiling
    assert len(_gzip_members(bomb * 4, max_out=1 << 20)) == 1 << 20
    # a bomb prefixed by real records: the real records still split out
    rec = make_warc_record("response", "https://e.com/x", "payload here")
    gz = make_warc_gz([rec]) + bomb
    recs = _split_warc_records(_gzip_members(gz, max_out=1 << 20))
    assert len(recs) == 1 and b"payload here" in recs[0]
    # capped inflation still roundtrips ordinary archives untouched
    gz2 = make_warc_gz([rec, rec], per_record_members=False)
    assert len(_split_warc_records(_gzip_members(gz2))) == 2


def test_warc_gz_truncation_flag(spark):
    """r11 ADVICE fix: a payload that hits the inflate cap yields only
    its LEADING records — they now carry truncated=true so the silent
    record loss is detectable downstream, while complete archives
    (including those inflating to exactly under the cap) stay
    truncated=false."""
    import pandas as pd

    from fluent_bit_spark.extensions.html import (
        _gzip_members_ex, make_warc_gz, make_warc_record, warc_gz_records,
    )

    rec = make_warc_record("response", "https://e.com/1", "x" * 200)
    full = make_warc_gz([rec] * 8, per_record_members=True)
    _, capped = _gzip_members_ex(full)
    assert capped is False
    # cap below the total: leading records recover, flag raises
    plain_len = len(_gzip_members_ex(full)[0])
    _, capped = _gzip_members_ex(full, max_out=plain_len // 2)
    assert capped is True
    # exactly-at-the-boundary archive with nothing left over: not capped
    _, capped = _gzip_members_ex(full, max_out=plain_len)
    assert capped is False

    df = spark.createDataFrame(
        pd.DataFrame({"doc_id": [1, 2], "content": [full, full]})
    )
    out = warc_gz_records(df, max_inflate=plain_len // 2)
    rows = out.groupBy("truncated").count().collect()
    got = {r.truncated: r["count"] for r in rows}
    assert got.get(True, 0) > 0  # capped payloads flag every record
    out_full = warc_gz_records(df)
    assert out_full.filter("truncated").count() == 0
    assert out_full.count() == 16


def test_embedding_dedup_null_first_vector(spark):
    """r11 ADVICE fix: the dim probe skips NULL embeddings — a NULL
    first row used to reach _hyperplanes as dim=None and die with an
    opaque TypeError."""
    from fluent_bit_spark.extensions.dedup import embedding_dedup

    rows = [(0, None)] + [
        (i, [float(i), 1.0, -0.5, float(i % 3)]) for i in range(1, 8)
    ] + [(99, [1.0, 1.0, -0.5, 1.0])]  # dup of vec 1
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    kept = {r.vec_id for r in
            embedding_dedup(emb, threshold=0.999).select("vec_id").collect()}
    assert 1 in kept and 99 not in kept


def test_unicode_hygiene():
    """fix_mojibake_str repairs single- and double-encoded UTF-8-as-
    latin-1/cp1252 text and NEVER touches genuine accented text (the
    strict-roundtrip + shrink rule); normalize_unicode adds NFC,
    zero-width/control stripping, and NBSP folding — r10 text-pipeline
    addition."""
    from fluent_bit_spark.extensions.text import fix_mojibake_str as fx

    orig = "café № Ω — ₤5 “quoted” 日本語 and plain ascii"
    one = orig.encode("utf-8").decode("latin-1")
    two = one.encode("utf-8").decode("latin-1")
    assert fx(one) == orig and fx(two) == orig
    m = "â€œquotedâ€\x9d and â‚¬5 naÃ¯ve"  # lenient-cp1252 mojibake
    assert fx(m) == "“quoted” and €5 naïve"
    for clean in ("café au lait", "naïve résumé", "Ω≈ç√", "日本語テキスト",
                  "plain", "", "cafÃ© mixed with real é stays"):
        assert fx(clean) == clean  # last one: mixed -> unsafe -> untouched


def test_normalize_unicode_operator(spark):
    from fluent_bit_spark.extensions.text import normalize_unicode

    df = spark.createDataFrame(
        [(1, "cafÃ© x\x00\x07 a​b"),  # mojibake + controls + ZWSP
         (2, None),
         (3, "é decomposed"),  # NFD e + combining acute
         (4, "c\xa0d\x01e")],  # NBSP folds, control strips
        "id long, text string",
    )
    got = {r.id: r.text for r in normalize_unicode(df).collect()}
    assert got[1] == "café x ab"  # ZWSP/controls gone, THEN repaired
    assert got[2] is None
    assert got[3] == "é decomposed"  # NFC composes
    assert got[4] == "c de"


def test_warc_gz_member_split():
    """warc.gz ingestion: per-record gzip members and whole-stream
    single members both split into records by Content-Length framing
    (payloads may contain blank lines and 'WARC/' strings); torn
    members / truncations never raise — r10 crawl-layout addition."""
    from fluent_bit_spark.extensions.html import (
        _gzip_members, _split_warc_records, make_warc_gz, make_warc_record,
    )

    recs = [
        make_warc_record("response", "https://e.com/1",
                         "<html>body one</html>"),
        make_warc_record("request", "https://e.com/1", "GET /1",
                         http_status=None),
        make_warc_record("response", "https://e.com/2",
                         "two\r\n\r\nwith blank line WARC/ tricky"),
    ]
    for per_member in (True, False):
        gz = make_warc_gz(recs, per_member)
        got = _split_warc_records(_gzip_members(gz))
        assert len(got) == 3, per_member
        assert b"body one" in got[0] and b"tricky" in got[2]
    # plain (uncompressed) .warc passes through the inflate step
    plain = "".join(recs).encode()
    assert len(_split_warc_records(_gzip_members(plain))) == 3
    gz = make_warc_gz(recs)
    for cut in range(0, len(gz), 13):
        _split_warc_records(_gzip_members(gz[:cut]))


def test_jpeg_exif_orientation_baking():
    """All eight EXIF orientations bake into the decoded luma plane:
    a pre-rotated raster stored with the matching APP1 tag decodes to
    the identical upright image (dims swap for 5-8); files without
    EXIF, or with unknown orientation values, pass through untouched —
    r10: rotated-by-metadata photos now perceptually match their
    rotated-by-pixels copies."""
    import numpy as np

    from fluent_bit_spark.extensions.multimodal import (
        _decode_jpeg_gray, make_jpeg_pixels,
    )

    rng = np.random.RandomState(9)
    grid = rng.randint(16, 240, (8, 9)).astype(np.uint8)
    up = np.kron(grid, np.ones((8, 8), dtype=np.uint8))
    H, W = up.shape
    inv = {
        1: lambda a: a, 2: lambda a: a[:, ::-1], 3: lambda a: a[::-1, ::-1],
        4: lambda a: a[::-1, :], 5: lambda a: a.T,
        6: lambda a: np.rot90(a, 1),
        7: lambda a: a.T[::-1, ::-1],  # transverse is self-inverse
        8: lambda a: np.rot90(a, -1),
    }
    for o in range(1, 9):
        stored = np.ascontiguousarray(inv[o](up))
        sh, sw = stored.shape
        jb = make_jpeg_pixels(sw, sh, stored.tobytes(), quality=100,
                              exif_orientation=o)
        w2, h2, _nch, px = _decode_jpeg_gray(jb)
        assert (w2, h2) == (W, H), o
        assert np.array_equal(np.frombuffer(px, np.uint8).reshape(H, W), up)
    plain = make_jpeg_pixels(W, H, up.tobytes(), quality=100)
    got = _decode_jpeg_gray(plain)
    assert np.array_equal(
        np.frombuffer(got[3], np.uint8).reshape(H, W), up
    )
    weird = make_jpeg_pixels(W, H, up.tobytes(), quality=100,
                             exif_orientation=42)
    assert _decode_jpeg_gray(weird)[3] == got[3]  # unknown value: untouched
    for cut in range(0, len(jb), 9):
        _decode_jpeg_gray(jb[:cut])  # truncation never raises


def test_exif_orientation_transforms_match_spec_index_arithmetic():
    """Each orientation's display transform checked against an
    INDEPENDENT coordinate-arithmetic restatement of the TIFF/EXIF
    mapping (stored raster -> upright display), on an asymmetric array
    where every transform produces a distinct result. This is the gate
    a consistently-wrong forward/inverse pair (the r10 orientation-7
    transpose-instead-of-transverse bug, which the roundtrip test alone
    could not see) cannot pass: the expected pixels are derived from
    index formulas, not from the implementation's own inverse."""
    import numpy as np

    from fluent_bit_spark.extensions.multimodal import (
        _jpeg_apply_orientation,
    )

    h, w = 3, 4
    a = np.arange(h * w, dtype=np.uint8).reshape(h, w)

    # display[i, j] in terms of stored a[r, c] — straight from the EXIF
    # orientation definitions (row0/col0 placement), written as loops so
    # no numpy-slicing identity is shared with the implementation
    def expect(o):
        if o in (1, 2, 3, 4):
            oh, ow = h, w
        else:
            oh, ow = w, h
        out = np.zeros((oh, ow), dtype=np.uint8)
        for i in range(oh):
            for j in range(ow):
                if o == 1:
                    out[i, j] = a[i, j]
                elif o == 2:  # mirror horizontal
                    out[i, j] = a[i, w - 1 - j]
                elif o == 3:  # rotate 180
                    out[i, j] = a[h - 1 - i, w - 1 - j]
                elif o == 4:  # mirror vertical
                    out[i, j] = a[h - 1 - i, j]
                elif o == 5:  # transpose
                    out[i, j] = a[j, i]
                elif o == 6:  # stored needs 90 CW
                    out[i, j] = a[h - 1 - j, i]
                elif o == 7:  # transverse (anti-diagonal flip)
                    out[i, j] = a[h - 1 - j, w - 1 - i]
                elif o == 8:  # stored needs 90 CCW
                    out[i, j] = a[j, w - 1 - i]
        return out

    results = {}
    for o in range(1, 9):
        got = _jpeg_apply_orientation((w, h, 1, a.tobytes()), o)
        ow, oh, _nch, px = got
        arr = np.frombuffer(px, np.uint8).reshape(oh, ow)
        assert np.array_equal(arr, expect(o)), o
        results[o] = arr.tobytes()
        # self-inverse orientations (1-4, 7) roundtrip through themselves
        if o in (1, 2, 3, 4, 7):
            back = _jpeg_apply_orientation(got, o)
            assert np.frombuffer(back[3], np.uint8).reshape(h, w).tobytes() \
                == a.tobytes(), o
    # all eight produce pairwise-distinct pixels on this asymmetric input
    assert len(set(results.values())) == 8


def test_html_blocks_justext_labels(spark):
    """jusText-style block classification: pages split at block-tag
    openings, per-block link density and length drive the
    boilerplate/short/good labels; entities decode, nested inline tags
    strip without fusing words, empty blocks drop, and a page with no
    block tags yields one block at index 0 — r11 corpus-pipeline
    addition (Pomikálek 2011's two core signals as pure Catalyst)."""
    from fluent_bit_spark.extensions.html import html_blocks

    page = (
        '<html><body>'
        '<div>nav <a href="/a">Home</a> <a href="/b">About</a> '
        '<a href="/c">More</a> links</div>'
        '<p>short one</p>'
        '<p>' + " ".join(f"w{i}" for i in range(11)) + ' <b>bold</b>&amp;x</p>'
        '<li><a href="/d">one link</a> in a longer block of words '
        'that keeps density low under the threshold here</li>'
        '</body></html>'
    )
    df = spark.createDataFrame(
        [(1, page), (2, "no tags at all just prose"), (3, "<p></p><p> </p>")],
        "doc_id long, html string",
    )
    rows = {(r.doc_id, r.block_idx): r for r in html_blocks(df).collect()}
    nav = rows[(1, 1)]
    assert nav.label == "boilerplate" and nav.n_links == 3
    assert nav.text == "nav Home About More links"
    assert rows[(1, 2)].label == "short"
    good = rows[(1, 3)]
    assert good.label == "good" and good.n_tokens == 13
    assert good.text.endswith("bold &x")  # tag stripped, entity decoded
    li = rows[(1, 4)]
    assert li.label == "good" and li.n_links == 1
    assert li.link_density <= 0.2
    # tagless page: one block at the split prefix (index 0)
    assert rows[(2, 0)].text == "no tags at all just prose"
    assert rows[(2, 0)].label == "short"
    # doc 3: every block empty after stripping -> no rows at all
    assert not any(d == 3 for d, _ in rows)


def test_html_blocks_counts_attributeless_anchors(spark):
    """Attribute-less anchors (<a>Home</a>) are valid HTML and exactly
    the chrome this classifier exists to catch — a '<a\\s' link regex
    counts them as zero links and lets nav blocks through as
    short/good (r11 review fix: match '<a' followed by space, '>' or
    '/')."""
    from fluent_bit_spark.extensions.html import html_blocks

    page = "<html><body><li><a>Home</a> <a>About</a> <a>More</a> and</li></body></html>"
    row = html_blocks(
        spark.createDataFrame([(1, page)], "doc_id long, html string")
    ).collect()[0]
    assert row.n_links == 3
    assert row.label == "boilerplate"


def _justext_revise_reference(cf: list[str]) -> list[str]:
    """Spec reference for the context pass — a direct restatement of
    revise_paragraph_classification from the published jusText
    algorithm (Pomikálek 2011 §3), classes renamed to this module's
    (bad='boilerplate'). Kept independent of the Spark implementation
    so the test is spec-derived, not self-consistent."""
    BAD, GOOD, SHORT, NG = "boilerplate", "good", "short", "near_good"

    def neighbour(i, step, ignore_neargood):
        j = i + step
        while 0 <= j < len(cf):
            c = cf[j]
            if c in (GOOD, BAD) or (c == NG and not ignore_neargood):
                return c
            j += step
        return BAD  # page boundary counts as bad

    out = list(cf)
    for i, c in enumerate(cf):
        if c == SHORT:
            prev, nxt = neighbour(i, -1, True), neighbour(i, 1, True)
            if {prev, nxt} == {GOOD}:
                out[i] = GOOD
            elif {prev, nxt} == {BAD}:
                out[i] = BAD
            elif (prev == BAD and neighbour(i, -1, False) == NG) or (
                nxt == BAD and neighbour(i, 1, False) == NG
            ):
                out[i] = GOOD
            else:
                out[i] = BAD
    for i, c in enumerate(cf):
        if c == NG:
            prev, nxt = neighbour(i, -1, True), neighbour(i, 1, True)
            out[i] = BAD if (prev, nxt) == (BAD, BAD) else GOOD
    return out


def test_revise_block_labels_context_pass(spark):
    """jusText's context-sensitive second pass (r12: previously
    documented out of envelope): short and near_good blocks absorb
    into their neighbourhood — short between goods -> good, between
    bads -> bad, mixed -> good only via the near_good bridge;
    near_good -> bad only when boilerplate on BOTH sides; page
    boundaries count as boilerplate. Every label sequence is checked
    against an independent restatement of the published algorithm
    (_justext_revise_reference), including the ignore-neargood
    neighbour walk."""
    from fluent_bit_spark.extensions.html import revise_block_labels

    patterns = [
        # every branch: bridge both directions, bad-bad absorption,
        # boundary shorts, neargood islands, consecutive shorts
        ["good", "short", "boilerplate"],
        ["good", "short", "near_good", "boilerplate"],
        ["boilerplate", "near_good", "short", "good"],
        ["good", "short", "good"],
        ["boilerplate", "short", "boilerplate"],
        ["short", "good", "short"],
        ["near_good"],
        ["boilerplate", "near_good", "boilerplate"],
        ["good", "near_good", "boilerplate", "near_good", "good"],
        ["short", "short", "good", "short", "short"],
        ["near_good", "short", "near_good"],
        ["good", "short", "short", "boilerplate", "short", "near_good",
         "good", "near_good", "boilerplate"],
    ]
    rows = [
        (doc, idx, lbl)
        for doc, cf in enumerate(patterns)
        for idx, lbl in enumerate(cf)
    ]
    df = spark.createDataFrame(
        rows, "doc_id long, block_idx int, label string"
    )
    got = {
        (r.doc_id, r.block_idx): (r.cf_label, r.label)
        for r in revise_block_labels(df).collect()
    }
    for doc, cf in enumerate(patterns):
        expect = _justext_revise_reference(cf)
        for idx in range(len(cf)):
            assert got[(doc, idx)] == (cf[idx], expect[idx]), (
                doc, cf, idx, got[(doc, idx)], expect[idx],
            )
        assert all(got[(doc, i)][1] in ("good", "boilerplate")
                   for i in range(len(cf)))


def test_html_blocks_near_good_class(spark):
    """html_blocks(near_good_tokens=...) adds jusText's fourth
    context-free class without touching the default two-signal labels;
    chaining revise_block_labels yields the final good/boilerplate
    page segmentation."""
    from fluent_bit_spark.extensions.html import (
        html_blocks, revise_block_labels,
    )

    page = (
        "<html><body>"
        '<div>nav <a href="/a">x</a> <a href="/b">y</a> <a href="/c">z</a>'
        " m</div>"
        "<p>" + " ".join(f"g{i}" for i in range(20)) + "</p>"
        "<p>tiny one</p>"
        "<p>" + " ".join(f"n{i}" for i in range(12)) + "</p>"
        "</body></html>"
    )
    df = spark.createDataFrame([(1, page)], "doc_id long, html string")
    cf = {r.block_idx: r.label
          for r in html_blocks(df, near_good_tokens=15).collect()}
    assert cf == {1: "boilerplate", 2: "good", 3: "short", 4: "near_good"}
    # default call unchanged: near_good stays good
    assert html_blocks(df).where("block_idx = 4").collect()[0].label == "good"
    final = {r.block_idx: r.label for r in revise_block_labels(
        html_blocks(df, near_good_tokens=15)
    ).collect()}
    # short: prev good, next (skip neargood) boundary->bad, bridge via
    # the following near_good -> good; near_good: prev good -> good
    assert final == {1: "boilerplate", 2: "good", 3: "good", 4: "good"}


def test_mp3_frame_table_mpeg2_lsf():
    """MPEG-2/2.5 LSF frames use their OWN bitrate table (ISO/IEC
    13818-3 — it diverges from 8*index above index 8: 80/96/112/128/
    144/160), 576 samples/frame, and half the slot count; Layer I/II
    headers stop the walk (Layer III envelope). A V2 Layer III stream
    at 22050 Hz / 80 kbps (index 9 — exactly where the naive 8*index
    mapping would be wrong: 72, not 80) must plan frame length
    72*80000/22050 = 261 and 26 ms steps."""
    from fluent_bit_spark.extensions.multimodal import mp3_frame_table

    def v2_frame(br_idx, sr_idx=0, pad=0, fill=65):
        size = 72 * (None, 8, 16, 24, 32, 40, 48, 56, 64, 80, 96, 112,
                     128, 144, 160)[br_idx] * 1000 \
            // (22050, 24000, 16000)[sr_idx] + pad
        hdr = bytes([0xFF, 0xE0 | (2 << 3) | (1 << 1) | 1,
                     (br_idx << 4) | (sr_idx << 2) | (pad << 1), 0])
        return hdr + bytes([fill]) * (size - 4)

    b = v2_frame(9) + v2_frame(9, pad=1, fill=66) + v2_frame(9, fill=67)
    t = mp3_frame_table(b)
    assert [r[2] for r in t] == [261, 262, 261]
    assert [r[1] for r in t] == [0, 576 * 1000 // 22050,
                                 2 * 576 * 1000 // 22050]
    assert t[1][3] == 261 and t[2][3] == 523
    # a Layer II header (layer bits 10) stops the walk, never computes
    l2 = bytes([0xFF, 0xE0 | (3 << 3) | (2 << 1), 0x90, 0]) + b"\x00" * 400
    assert mp3_frame_table(l2) is None
    assert mp3_frame_table(v2_frame(9) + l2) is not None  # stop, keep prefix
    assert len(mp3_frame_table(v2_frame(9) + l2)) == 1


def test_gzip_members_windowed_inflate_roundtrips():
    """The bounded-WINDOW inflate (r11 review fix for the quadratic
    decompress(remaining, max_length) pattern) must still roundtrip
    exactly: members larger than the 1 MB input window, members whose
    boundaries straddle windows, multi-member streams, and plain
    passthrough."""
    import gzip
    import random

    from fluent_bit_spark.extensions.html import _gzip_members

    rng = random.Random(7)
    big = bytes(rng.randrange(256) for _ in range(3 * 1024 * 1024))
    gz_big = gzip.compress(big)  # ~3 MB compressed: spans input windows
    assert len(gz_big) > 2 * 1024 * 1024
    assert _gzip_members(gz_big) == big
    # multi-member with a window-straddling first member
    small = b"second member payload" * 10
    stream = gz_big + gzip.compress(small)
    assert _gzip_members(stream) == big + small
    # cap still binds
    assert len(_gzip_members(stream, max_out=1 << 20)) == 1 << 20
    # torn big member yields a prefix, never raises
    out = _gzip_members(gz_big[: len(gz_big) // 2])
    assert big.startswith(out)


def test_fmp4_audio_trak_first_still_plans_video():
    """Track order in moov is unconstrained by ISO BMFF: with the audio
    TRAK written before the video trak (audio_trak_first), the plan
    must still select the video track by its hdlr handler — first-trak
    selection would hand every reader the audio track's
    tkhd/mdhd/stbl and plan audio samples as frames (r11 review
    fix)."""
    from fluent_bit_spark.extensions.video import (
        make_fmp4, mp4_fragment_table, parse_mp4,
    )

    frags = [
        (0, [(40, 10, True), (40, 12, False)]),
        (80, [(40, 9, True)]),
    ]
    audio = [(0, [(21, 5, True)]), (21, [(21, 6, True)])]
    normal = mp4_fragment_table(
        make_fmp4(320, 180, frags, audio_fragments=audio)
    )
    b = make_fmp4(320, 180, frags, audio_fragments=audio,
                  audio_trak_first=True)
    flipped = mp4_fragment_table(b)
    assert [(r[0], r[1], r[2], r[4]) for r in flipped] \
        == [(r[0], r[1], r[2], r[4]) for r in normal]
    for i, (_idx, _ts, sz, off, _k) in enumerate(flipped):
        assert b[off : off + sz] == bytes([65 + i % 26]) * sz
    # header parse also follows the video trak (320x180, not 0x0)
    hdr = parse_mp4(b)
    assert (hdr["width"], hdr["height"]) == (320, 180)


def test_dedup_parameter_guards(spark, tmp_path):
    """r11 core-review guards: band_buckets rejects num_bands > sig_len
    (excess bands hash empty slices to one constant, silently
    collapsing the corpus to the global min id in the unverified dedup
    path); simhash_dedup rejects hamming_threshold >= num_bands (the
    pigeonhole recall guarantee) — both raise instead of silently
    returning wrong survivors."""
    import pytest

    from fluent_bit_spark.extensions.dedup import (
        minhash_dedup, minhash_signatures, band_buckets, simhash_dedup,
    )

    import random

    rng = random.Random(11)
    words = ["alpha", "beta", "gamma", "delta", "epsilon", "zeta",
             "eta", "theta", "iota", "kappa", "lam", "mu"]
    df = spark.createDataFrame(
        [(i, " ".join(rng.sample(words, 8))) for i in range(6)],
        "doc_id long, text string",
    )
    sig = minhash_signatures(df, num_hashes=8)
    with pytest.raises(ValueError, match="num_bands=12 exceeds"):
        band_buckets(sig, num_bands=12, sig_len=8)
    with pytest.raises(ValueError, match="exceeds signature"):
        minhash_dedup(df, num_hashes=8, num_bands=12)
    with pytest.raises(ValueError, match="pigeonhole"):
        simhash_dedup(df, hamming_threshold=4, num_bands=4)
    # valid configs still work (distinct shuffled texts all survive)
    assert minhash_dedup(df, num_hashes=8, num_bands=4).count() >= 4
    assert simhash_dedup(df, hamming_threshold=3, num_bands=4).count() >= 1

    # the media history entry points reject what their joins reject:
    # max_hamming=-1 once divided by zero and 64 made a zero-width band
    # every hash matches; the audio history checked neither bound
    from fluent_bit_spark.extensions.multimodal import (
        audio_dedup_against_history, image_dedup_against_history,
    )
    from fluent_bit_spark.extensions.video import video_dedup_against_history

    media = spark.createDataFrame([(1, bytearray(b"x"))], "media_id long, content binary")
    state = str(tmp_path / "history")
    for history in (image_dedup_against_history, video_dedup_against_history):
        for max_hamming in (-1, 64):
            with pytest.raises(ValueError, match="need 0 <= max_hamming < 64"):
                history(media, state, max_hamming=max_hamming)
    for max_ber in (-0.1, 1.5):
        with pytest.raises(ValueError, match="need 0 <= max_ber <= 1"):
            audio_dedup_against_history(media, state, max_ber=max_ber)
    with pytest.raises(ValueError, match="energy_floor must be >= 0"):
        audio_dedup_against_history(media, state, energy_floor=-1.0)


def test_embedding_dedup_infers_dimension(spark):
    """embedding_dedup derives the hyperplane width from the data (r11
    core-review fix): with 16-dim vectors the old hardcoded 64-dim
    planes NULLed every dot product and put ALL rows in bucket 0 — the
    bucketed join silently degenerated to the full O(n^2) pair space.
    Now the buckets split (verified directly) and exact duplicates
    still collapse."""
    from fluent_bit_spark.extensions.dedup import embedding_dedup
    from fluent_bit_spark.extensions.similarity import hyperplane_bucket

    import random

    rng = random.Random(3)
    rows = []
    for i in range(40):
        v = [rng.uniform(-1, 1) for _ in range(16)]
        rows.append((i, v))
    rows.append((99, rows[0][1]))  # exact duplicate of vec 0
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    # buckets actually split with the inferred dim
    from pyspark.sql import functions as F
    n_buckets = emb.select(
        hyperplane_bucket(F.col("embedding"), dim=16).alias("b")
    ).distinct().count()
    assert n_buckets > 1
    kept = embedding_dedup(emb, threshold=0.999)
    ids = {r.vec_id for r in kept.select("vec_id").collect()}
    assert 0 in ids and 99 not in ids  # duplicate dropped, original kept
    assert len(ids) >= 39


def test_similarity_small_corpus_guards(spark):
    """r11 core-review fixes: kmeans_centroids clamps k to the corpus
    size instead of IndexError mid-Lloyd; pq_train raises a clear error
    when the sample is smaller than ksub (the old behavior trained
    short codebooks that saved fine but could never be loaded); the
    batch hyperplane UDF zero-buckets a wrong-length vector instead of
    failing the whole Arrow batch."""
    import pytest

    from pyspark.sql import functions as F

    from fluent_bit_spark.extensions.similarity import (
        hyperplane_buckets_batch, kmeans_centroids, pq_train,
    )

    small = spark.createDataFrame(
        [(i, [float(i), float(-i), 1.0, 0.5]) for i in range(5)],
        "vec_id long, embedding array<double>",
    )
    cents = kmeans_centroids(small, n_centroids=16, iters=2)
    assert 1 <= len(cents) <= 5
    with pytest.raises(ValueError, match="ksub"):
        pq_train(small, m=2, ksub=16, iters=1)
    ragged = spark.createDataFrame(
        [(1, [1.0, 2.0, 3.0, 4.0]), (2, [1.0, 2.0, 3.0]), (3, None)],
        "vec_id long, embedding array<double>",
    )
    got = ragged.select(
        hyperplane_buckets_batch(F.col("embedding"), dim=4, nbits=4,
                                 tables=2).alias("b")
    ).collect()
    assert len(got) == 3  # no batch failure; ragged/null rows bucketed
    assert got[1].b == got[2].b  # both map to the zero vector


def test_bm25_compact_index(spark, tmp_path):
    """bm25_index_append writes a complete new version per append and
    flips the manifest; bm25_compact_index (r11 core-review fix)
    deletes the superseded versions — without it a daily append job
    retains every historical full copy. After two appends + compaction
    exactly one version dir remains, the manifest still points at it,
    and served results are unchanged."""
    import os

    from fluent_bit_spark.extensions.retrieval import (
        bm25_compact_index, bm25_index, bm25_index_append,
        bm25_index_load, bm25_index_save, bm25_topk_indexed,
    )

    docs = spark.createDataFrame(
        [(i, f"alpha beta doc {i} with shared words") for i in range(8)],
        "doc_id long, text string",
    )
    path = str(tmp_path / "bm25")
    bm25_index_save(bm25_index(docs), path)
    assert bm25_compact_index(spark, path) == 0  # only the saved version: no-op
    for start in (100, 200):
        more = spark.createDataFrame(
            [(start + i, f"gamma delta doc {start + i}") for i in range(4)],
            "doc_id long, text string",
        )
        bm25_index_append(spark, path, more)
    versions = sorted(
        d for d in os.listdir(path) if d.startswith("v") and d[1:].isdigit()
    )
    assert len(versions) == 3  # the save and two appends, three full copies
    q = spark.createDataFrame([(1, "alpha gamma")], "query_id long, text string")
    before = sorted(
        (r.doc_id, r.score)
        for r in bm25_topk_indexed(bm25_index_load(spark, path), q, k=5).collect()
    )
    assert bm25_compact_index(spark, path) == 2
    left = [d for d in os.listdir(path) if d.startswith("v") and d[1:].isdigit()]
    assert left == [versions[-1]]
    after = sorted(
        (r.doc_id, r.score)
        for r in bm25_topk_indexed(bm25_index_load(spark, path), q, k=5).collect()
    )
    assert after == before
    # the pre-append root tables and the superseded version are gone
    assert sorted(
        d for d in os.listdir(path) if not d.startswith(".")
    ) == ["MANIFEST", versions[-1]]


def _bm25_store(spark, path):
    """A saved 8-doc BM25 index at ``path``, a query frame, and a
    ``served()`` helper returning the index's current top-5 there."""
    from fluent_bit_spark.extensions.retrieval import (
        bm25_index, bm25_index_load, bm25_index_save, bm25_topk_indexed,
    )

    docs = spark.createDataFrame(
        [(i, f"alpha beta doc {i} with shared words") for i in range(8)],
        "doc_id long, text string",
    )
    bm25_index_save(bm25_index(docs), path)
    q = spark.createDataFrame([(1, "alpha gamma")], "query_id long, text string")

    def served():
        return sorted(
            (r.doc_id, r.score)
            for r in bm25_topk_indexed(bm25_index_load(spark, path), q, k=5).collect()
        )

    return served


def _bm25_batch(spark, start):
    return spark.createDataFrame(
        [(start + i, f"gamma delta doc {start + i}") for i in range(4)],
        "doc_id long, text string",
    )


def test_bm25_index_append_crash_recovery(spark, tmp_path, monkeypatch):
    """A crash after bm25_index_append writes the new version but before
    MANIFEST flips leaves the live pointer and the served top-k as they
    were; the next append succeeds. Checked at the first append and at
    a later one."""
    import os

    from fluent_bit_spark.extensions import versioned_store
    from fluent_bit_spark.extensions.retrieval import bm25_index_append

    path = str(tmp_path / "bm25")
    served = _bm25_store(spark, path)

    def crash(*args):
        raise IOError("simulated crash before the manifest flip")

    def manifest():
        mf = os.path.join(path, "MANIFEST")
        return open(mf).read().strip() if os.path.exists(mf) else None

    for start, live in ((100, "v000001"), (200, "v000002")):
        before = served()
        with monkeypatch.context() as m:
            m.setattr(versioned_store, "_write_manifest", crash)
            with pytest.raises(IOError, match="simulated crash"):
                bm25_index_append(spark, path, _bm25_batch(spark, start))
        assert manifest() == live
        assert served() == before
        assert bm25_index_append(spark, path, _bm25_batch(spark, start)) == 4
        assert served() != before
    assert manifest() == "v000003"


def test_bm25_index_append_clash_error_wins(spark, tmp_path, monkeypatch):
    """When the appended ids clash AND the version write fails, the
    clash is the error raised, and MANIFEST never flips."""
    import os

    from fluent_bit_spark.extensions import retrieval, versioned_store

    path = str(tmp_path / "bm25")
    _bm25_store(spark, path)
    assert retrieval.bm25_index_append(spark, path, _bm25_batch(spark, 100)) == 4

    def broken_write(*args):
        raise RuntimeError("simulated table write failure")

    monkeypatch.setattr(versioned_store, "write_tables", broken_write)
    with pytest.raises(ValueError, match="reuse document ids"):
        retrieval.bm25_index_append(spark, path, _bm25_batch(spark, 102))
    assert open(os.path.join(path, "MANIFEST")).read().strip() == "v000002"


def test_bm25_index_append_lost_pointer_refuses(spark, tmp_path):
    """With MANIFEST lost before bm25_compact_index, the pre-append root
    tables are still there beside v000001. An append must refuse rather
    than take them for a crashed first append and delete v000001."""
    import os

    from fluent_bit_spark.extensions.retrieval import bm25_index_append

    path = str(tmp_path / "bm25")
    _bm25_store(spark, path)
    assert bm25_index_append(spark, path, _bm25_batch(spark, 100)) == 4
    os.remove(os.path.join(path, "MANIFEST"))
    with pytest.raises(RuntimeError, match="no MANIFEST"):
        bm25_index_append(spark, path, _bm25_batch(spark, 200))
    assert os.path.isdir(os.path.join(path, "v000001", "postings"))


def _index_kind(spark, kind):
    """One persisted index type as (corpus, build, save, load, append,
    serve, reference): ``corpus(ids)`` is a deterministic frame of those
    ids, ``serve(index)`` the sorted top-5 rows with scores rounded, and
    ``reference(saved, corpus)`` the in-memory index an append onto the
    loaded index ``saved`` must serve like."""
    import numpy as np

    from fluent_bit_spark.extensions import retrieval as R
    from fluent_bit_spark.extensions import similarity as S

    def rows(df):
        return sorted(
            tuple(round(v, 9) if isinstance(v, float) else v for v in r)
            for r in df.collect()
        )

    if kind == "bm25":
        words = [f"w{i}" for i in range(12)]

        def corpus(ids):
            return spark.createDataFrame(
                [(i, " ".join(words[i * j % 12] for j in range(1, 6))) for i in ids],
                "doc_id long, text string",
            )

        qs = spark.createDataFrame(
            [(1, "w1 w2"), (2, "w3 w5 w7")], "query_id long, text string"
        )
        build = lambda df: R.bm25_index(df, c=5)
        return (
            corpus, build, R.bm25_index_save, R.bm25_index_load,
            R.bm25_index_append,
            lambda idx: rows(R.bm25_topk_indexed(idx, qs, k=5)),
            lambda saved, df: build(df),
        )

    def corpus(ids):
        return spark.createDataFrame(
            [(i, [float(x) for x in np.random.RandomState(i).rand(8)]) for i in ids],
            "vec_id long, embedding array<double>",
        )

    qs = corpus([0, 7, 13]).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    if kind == "ivf":
        build = lambda df: S.ivf_index(df, n_centroids=4, iters=2)
        # nprobe covers every list, so the serve is the exact top-5
        return (
            corpus, build, S.ivf_index_save, S.ivf_index_load,
            S.ivf_index_append,
            lambda idx: rows(S.ivf_topk_indexed(idx, qs, k=5, nprobe=4)),
            lambda saved, df: build(df),
        )
    return (
        corpus,
        lambda df: S.pq_index(df, m=4, ksub=8, iters=2, sample=64),
        S.pq_index_save, S.pq_index_load, S.pq_index_append,
        lambda idx: rows(S.pq_topk_indexed(idx, qs, k=5)),
        lambda saved, df: {
            **saved,
            "codes": S.pq_encode(df, saved["codebooks"], "vec_id", "embedding"),
        },
    )


def _write_flat_index(spark, kind, index, path):
    """Write ``index`` the way the flat-layout saves wrote it: every
    table and the meta row straight under ``path``, no MANIFEST."""
    if kind == "bm25":
        tables = {
            "tc": index["tc"],
            "topc": index["ranked"].filter(F.col("rn") <= index["c"] + 1),
            "postings": index["postings"],
            "dfreq": index["dfreq"],
        }
        for name, df in tables.items():
            df.write.parquet(f"{path}/{name}")
        meta = spark.createDataFrame(
            [(
                index["n_docs"], index["avgdl"], index["sum_dl"],
                index["n_nonempty"], index["k1"], index["b"], index["c"],
                index["id_col"],
                {n: df.schema.json() for n, df in tables.items()},
            )],
            "n_docs long, avgdl double, sum_dl long, n_nonempty long, "
            "k1 double, b double, c int, id_col string, "
            "schemas map<string,string>",
        )
    elif kind == "ivf":
        index["lists"].repartition("cid").write.partitionBy("cid").parquet(
            f"{path}/lists"
        )
        spark.createDataFrame(
            list(enumerate(index["centroids"])), "cid int, cvec array<double>"
        ).repartition(1).write.parquet(f"{path}/centroids")
        meta = spark.createDataFrame(
            [(index["n_centroids"], index["id_col"], index["vec_col"],
              index["lists"].schema.json())],
            "n_centroids int, id_col string, vec_col string, lists_schema string",
        )
    else:
        index["codes"].write.parquet(f"{path}/codes")
        cb = index["codebooks"]
        spark.createDataFrame(
            [(s, c, cb[s][c]) for s in range(len(cb)) for c in range(len(cb[s]))],
            "sub int, code int, cvec array<double>",
        ).repartition(1).write.parquet(f"{path}/codebooks")
        meta = spark.createDataFrame(
            [(index["m"], index["ksub"], index["id_col"], index["vec_col"],
              index["codes"].schema.json())],
            "m int, ksub int, id_col string, vec_col string, codes_schema string",
        )
    meta.repartition(1).write.parquet(f"{path}/meta")


@pytest.mark.parametrize("kind", ["bm25", "ivf", "pq"])
def test_index_save_replaces_appended_index(spark, tmp_path, kind):
    """Save an index, append to it, save a different index to the same
    path: the load returns the second index, appended rows and all
    earlier copies gone."""
    import os

    corpus, build, save, load, append, serve, _ = _index_kind(spark, kind)
    path = str(tmp_path / kind)
    save(build(corpus(range(0, 30))), path)
    assert append(spark, path, corpus(range(30, 60))) == 30
    second = build(corpus(range(60, 90)))
    save(second, path)
    loaded = load(spark, path)
    assert serve(loaded) == serve(second)
    table = {"bm25": "postings", "ivf": "lists", "pq": "codes"}[kind]
    id_col = loaded["id_col"]
    ids = {r[0] for r in loaded[table].select(id_col).distinct().collect()}
    assert ids == set(range(60, 90))
    assert sorted(d for d in os.listdir(path) if not d.startswith(".")) == [
        "MANIFEST", open(os.path.join(path, "MANIFEST")).read().strip()
    ]


@pytest.mark.parametrize("kind", ["bm25", "ivf", "pq"])
def test_index_save_crash_keeps_previous(spark, tmp_path, monkeypatch, kind):
    """A save that dies after its first table is written leaves the
    previous index live: it loads and serves the same rows."""
    import threading

    from pyspark.sql.readwriter import DataFrameWriter

    corpus, build, save, load, _, serve, _ = _index_kind(spark, kind)
    path = str(tmp_path / kind)
    save(build(corpus(range(0, 40))), path)
    before = serve(load(spark, path))
    second = build(corpus(range(40, 80)))

    real, first_written, calls = DataFrameWriter.parquet, threading.Event(), []
    lock = threading.Lock()

    def parquet(self, p, *args, **kwargs):
        with lock:
            calls.append(p)
            n = len(calls)
        if n == 1:
            real(self, p, *args, **kwargs)
            first_written.set()
            return
        first_written.wait(120)
        raise IOError("simulated crash after the first table write")

    with monkeypatch.context() as m:
        m.setattr(DataFrameWriter, "parquet", parquet)
        with pytest.raises(IOError, match="simulated crash"):
            save(second, path)
    assert first_written.is_set()
    assert serve(load(spark, path)) == before


@pytest.mark.parametrize("kind", ["bm25", "ivf", "pq"])
def test_flat_index_layout_loads_serves_appends(spark, tmp_path, kind):
    """An index written by the flat-layout save (tables at the root, no
    MANIFEST) loads, serves like the index it was written from, and
    takes an append that serves like the in-memory reference."""
    corpus, build, _, load, append, serve, reference = _index_kind(spark, kind)
    path = str(tmp_path / kind)
    index = build(corpus(range(0, 40)))
    _write_flat_index(spark, kind, index, path)
    saved = load(spark, path)
    assert serve(saved) == serve(index)
    assert append(spark, path, corpus(range(40, 60))) == 20
    assert serve(load(spark, path)) == serve(
        reference(saved, corpus(range(0, 60)))
    )


@pytest.mark.parametrize("kind", ["ivf", "pq"])
def test_vector_index_append_refuses_known_ids(spark, tmp_path, kind):
    """ivf_index_append and pq_index_append refuse ids already in the
    index before they write anything."""
    corpus, build, save, load, append, serve, _ = _index_kind(spark, kind)
    path = str(tmp_path / kind)
    save(build(corpus(range(0, 30))), path)
    before = serve(load(spark, path))
    with pytest.raises(ValueError, match="reuse ids already in the index"):
        append(spark, path, corpus(range(25, 35)))
    table = "lists" if kind == "ivf" else "codes"
    assert load(spark, path)[table].count() == 30
    assert serve(load(spark, path)) == before


def test_text_review_guards(spark):
    """r11 text/sketch review batch: edit_distance_join completes the
    candidate set for SHORT keys (count-filter bound vacuous — 'ab' vs
    'cb' share zero padded trigrams at distance 1); quantile_summary
    names fractional quantiles without collisions (0.995 used to label
    p100 and overwrite its neighbor); bigram_logprob rejects
    interpolation=1.0 (zero-prob tokens were silently dropped from
    avg_logp); lang_id detects unsegmented Chinese (token-equality
    markers never matched); NULL-text docs survive corpus_line_dedup
    and get keep=False (not NULL) from gopher_quality."""
    import pytest

    from pyspark.sql import functions as F

    from fluent_bit_spark.extensions.linkage import edit_distance_join
    from fluent_bit_spark.extensions.sketches import quantile_summary
    from fluent_bit_spark.extensions.text import (
        bigram_logprob, corpus_line_dedup, gopher_quality, lang_id,
    )

    # short-key edit-distance pairs now found; non-pairs still excluded
    L = spark.createDataFrame([(1, "ab"), (2, "warehouse")], "id long, k string")
    R = spark.createDataFrame(
        [(10, "cb"), (20, "warehose"), (30, "zz")], "id long, k string"
    )
    got = {(r[0], r[1]) for r in edit_distance_join(
        L, R, "id", "k", "id", "k", max_dist=1).collect()}
    assert (1, 10) in got and (2, 20) in got and (1, 30) not in got

    # fractional quantile names: distinct, precise
    df = spark.createDataFrame(
        [("a", float(i)) for i in range(1000)], "g string, v double"
    )
    qs = quantile_summary(df, ["g"], "v", quantiles=(0.99, 0.995, 0.999))
    assert {"p99", "p99_5", "p99_9"} <= set(qs.columns)
    row = qs.collect()[0]
    assert row.p99 <= row.p99_5 <= row.p99_9
    with pytest.raises(ValueError, match="duplicate column name"):
        quantile_summary(df, ["g"], "v", quantiles=(0.5, 0.5))

    # interpolation = 1.0 rejected (silent score inflation otherwise)
    tgt = spark.createDataFrame([(1, "a b c")], "doc_id long, text string")
    doc = spark.createDataFrame([(2, "a c b")], "doc_id long, text string")
    with pytest.raises(ValueError, match="interpolation"):
        bigram_logprob(doc, tgt, interpolation=1.0)

    # unsegmented Chinese now identified; Latin token semantics intact
    lid = spark.createDataFrame(
        [(1, "我是学生的书"), (2, "the theater of dreams is the best"),
         (3, "no markers here xyz")],
        "id long, text string",
    ).select("id", lang_id(F.col("text")).alias("lang")).collect()
    langs = {r.id: r.lang for r in lid}
    assert langs[1] == "zh" and langs[2] == "en" and langs[3] == "und"

    # NULL-text docs: present in line-dedup output, keep=False in gopher
    nulls = spark.createDataFrame(
        [(1, None), (2, "real line\nreal line two")],
        "doc_id long, text string",
    )
    ld = {r.doc_id: r for r in corpus_line_dedup(nulls).collect()}
    # NULL behaves like '' (one kept empty line), instead of vanishing
    assert 1 in ld and ld[1].clean_text == "" and ld[1].n_dropped_lines == 0
    gq = {r.doc_id: r.keep for r in gopher_quality(nulls).collect()}
    assert gq[1] is False  # not None


def test_mixing_r12_review_fixes(spark):
    """r12 review fixes in the mixing layer: (a) deterministic_keep
    uses pmod — a huge id whose Knuth product wraps negative is still
    DROPPED at rate 0.0 (the signed % kept it at every rate); (b)
    hash_split drops NULL-id rows (xxhash64(NULL) is a constant, so
    they all landed in one split); (c) cap_per_key's default salt
    skips map types nested inside arrays too."""
    from pyspark.sql import functions as F

    from fluent_bit_spark.extensions.mixing import (
        cap_per_key, deterministic_keep, hash_split,
    )

    big = spark.createDataFrame(
        [(4_000_000_000,), (5,)], "doc_id long"
    )
    kept = big.filter(deterministic_keep("doc_id", F.lit(0.0))).count()
    assert kept == 0
    assert big.filter(deterministic_keep("doc_id", F.lit(1.0))).count() == 2

    withnull = spark.createDataFrame(
        [(None,), (1,), (2,), (3,)], "doc_id long"
    )
    out = hash_split(withnull, {"train": 0.5, "test": 0.5})
    assert out.count() == 3  # NULL id dropped, not funneled into one split

    nested = spark.createDataFrame(
        [(1, "d", 1.0, [{"k": "v"}]), (2, "d", 2.0, [{"k": "v"}])],
        "doc_id long, domain string, q double, tags array<map<string,string>>",
    )
    capped = cap_per_key(nested, ["domain"], ["q"], n=1, salt=4)
    assert capped.count() == 1  # no AnalysisException from map-in-array


def test_gap_fill_is_gap_provenance(spark):
    """r12 review fix: is_gap comes from JOIN provenance — an OBSERVED
    bucket whose first value is NULL is not a gap, and gap audits no
    longer count it as materialized."""
    import datetime as dt

    from fluent_bit_spark.extensions.timeseries import gap_fill

    t0 = dt.datetime(2024, 1, 1)
    rows = [
        ("s", t0, None, 5.0),                         # observed, cpu NULL
        ("s", t0 + dt.timedelta(minutes=2), 3.0, 6.0),
    ]
    df = spark.createDataFrame(
        rows, "k string, bucket timestamp, cpu double, mem double"
    )
    out = gap_fill(df, ["k"], 60, ["cpu", "mem"], method="null")
    gaps = {str(r.bucket): r.is_gap for r in out.collect()}
    assert gaps == {
        "2024-01-01 00:00:00": False,   # observed despite NULL cpu
        "2024-01-01 00:01:00": True,    # materialized
        "2024-01-01 00:02:00": False,
    }


def test_pack_token_sequences_rejects_string_ids(spark):
    """r12 review fix: a non-numeric id column raises instead of
    silently emitting ZERO sequences (the prefix-sum bucket is
    cast(id AS long), NULL for strings)."""
    import pytest

    from fluent_bit_spark.extensions.bpe import pack_token_sequences

    df = spark.createDataFrame(
        [("uuid-1", "a b"), ("uuid-2", "c d")], "doc_id string, text string"
    )
    with pytest.raises(ValueError, match="must be numeric"):
        pack_token_sequences(df, [("a", "b")], seq_len=2)
