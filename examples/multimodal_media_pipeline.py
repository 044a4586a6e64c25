"""Multimodal corpus pipeline over opaque binary media columns —
the rounds-10/11 shape: header classification stays JVM-side, the
REAL stdlib codecs (PNG zlib inflate + unfilter, baseline-JPEG
huffman + IDCT, WAV struct PCM) run in Arrow-batched mapInPandas,
and undecodable formats are ROUTED AWAY before the Python stage so
one bad blob can't fail a 100 TB job.

Stages (each a real operator from goconnect_spark.operators.multimodal):
  1. synthesize a mixed media corpus (genuine PNG/WAV/baseline-JPEG
     containers built from known arrays, GIFs with real LZW streams,
     plus an arithmetic-coded JPEG header, a structured mp4 container
     and junk bytes)
  2. parse_media_headers — format/dims/rate via pure column exprs
     (whole-stage codegen; reads only each blob's leading bytes)
  2b. with_jpeg_dimensions / with_jpeg_profile — bounded-prefix SOF
     scan: route jpegs by size AND by coding profile (huffman
     baseline/extended/progressive decode here; arithmetic-coded
     honestly needs libjpeg -> quarantine)
  3. media_repartition — bytes-per-partition balancing (row counts
     are meaningless for binary payloads)
  4. route: decodable rows -> extract_features
     (features computed from DECODED pixels/PCM); everything else ->
     a quarantine count by format
  4b. resize_images — image rows decoded, exact-integer bilinear
     resample to a uniform thumbnail, re-encoded as PNG (the write
     path is real too: encode_png)
  4c. resample_audio — wav rows normalized to 16 kHz (exact-integer
     linear PCM resample, encode_wav re-encode)
  5. aggregate the feature vectors per media kind

Run: python examples/multimodal_media_pipeline.py
"""

from __future__ import annotations

import struct
import sys
import zlib

import pyspark.sql.functions as F

sys.path.insert(0, __file__.rsplit("/", 2)[0])

from goconnect_spark.operators.multimodal import (  # noqa: E402
    JPEG_DECODABLE_PROFILES,
    extract_features,
    media_repartition,
    parse_media_headers,
    resample_audio,
    resize_images,
    sample_frames,
    with_gif_metadata,
    with_jpeg_dimensions,
    with_jpeg_profile,
    with_mp4_metadata,
)
from goconnect_spark.session import get_spark  # noqa: E402


def _chunk(ctype: bytes, body: bytes) -> bytes:
    return (struct.pack(">I", len(body)) + ctype + body
            + struct.pack(">I", zlib.crc32(ctype + body)))


def make_png(w: int, h: int, seed: int) -> bytes:
    """A genuine gray-scale PNG (filter 0 rows) from a deterministic
    pixel array."""
    px = bytes((seed * 37 + i * 11) % 256 for i in range(w * h))
    raw = b"".join(b"\x00" + px[y * w : (y + 1) * w] for y in range(h))
    ihdr = struct.pack(">IIBBBBB", w, h, 8, 0, 0, 0, 0)
    return (b"\x89PNG\r\n\x1a\n" + _chunk(b"IHDR", ihdr)
            + _chunk(b"IDAT", zlib.compress(raw)) + _chunk(b"IEND", b""))


def make_wav(rate: int, seed: int, n: int = 64) -> bytes:
    """A genuine 16-bit mono PCM WAV from a deterministic sample
    array."""
    samples = [((seed * 131 + i * 977) % 65536) - 32768 for i in range(n)]
    pcm = struct.pack(f"<{n}h", *samples)
    return (b"RIFF" + struct.pack("<I", 36 + len(pcm)) + b"WAVE"
            + b"fmt " + struct.pack("<IHHIIHH", 16, 1, 1, rate, rate * 2, 2, 16)
            + b"data" + struct.pack("<I", len(pcm)) + pcm)


def make_jpeg(dc: int) -> bytes:
    """A genuine 8x8 grayscale baseline JPEG, hand-assembled: flat
    quant table 16, 12 DC categories at code length 4, AC table with
    the single EOB code. Decodes to the flat value 2*dc + 128."""
    def seg(marker: int, body: bytes) -> bytes:
        return bytes([0xFF, marker]) + struct.pack(">H", 2 + len(body)) + body

    dc_bits = [0] * 16
    dc_bits[3] = 12
    ac_bits = [0] * 16
    ac_bits[0] = 1  # one code of length 1: '0' -> EOB
    size = dc.bit_length()
    bits = f"{size:04b}" + (f"{dc:0{size}b}" if size else "") + "0"
    bits += "1" * ((8 - len(bits) % 8) % 8)
    entropy = bytes(int(bits[i : i + 8], 2) for i in range(0, len(bits), 8))
    return (b"\xff\xd8"
            + seg(0xDB, bytes([0]) + bytes([16] * 64))
            + seg(0xC4, bytes([0x00]) + bytes(dc_bits) + bytes(range(12)))
            + seg(0xC4, bytes([0x10]) + bytes(ac_bits) + bytes([0x00]))
            + seg(0xC0, bytes([8]) + struct.pack(">HH", 8, 8) + bytes([1, 1, 0x11, 0]))
            + seg(0xDA, bytes([1, 1, 0x00, 0, 63, 0]))
            + entropy + b"\xff\xd9")


def make_gif(w: int, h: int, seed: int) -> bytes:
    """A genuine GIF89a: 4-color global palette, literal-code LZW
    stream (valid — the decoder's dictionary growth is tracked for
    code-width bumps even when no dictionary code is emitted)."""
    pal = bytes([255, 0, 0, 0, 255, 0, 0, 0, 255, 255, 255, 0])
    idx = [(seed + i) % 4 for i in range(w * h)]
    clear, eoi, width, size = 4, 5, 3, 6
    bits = []

    def put(code, wd):
        for i in range(wd):
            bits.append((code >> i) & 1)

    put(clear, 3)
    for k, v in enumerate(idx):
        put(v, width)
        if k:
            size += 1
            if size == (1 << width) and width < 12:
                width += 1
    put(eoi, width)
    raw = bytearray()
    for i in range(0, len(bits), 8):
        v = 0
        for j, b in enumerate(bits[i : i + 8]):
            v |= b << j
        raw.append(v)
    sub = bytearray()
    for i in range(0, len(raw), 255):
        chunk = raw[i : i + 255]
        sub.append(len(chunk))
        sub += chunk
    sub.append(0)
    return (b"GIF89a" + struct.pack("<HH", w, h) + bytes([0x81, 0, 0]) + pal
            + bytes([0x2C]) + struct.pack("<HHHH", 0, 0, w, h) + bytes([0])
            + bytes([2]) + bytes(sub) + b"\x3b")


def main() -> None:
    spark = get_spark(8)
    spark.sparkContext.setLogLevel("ERROR")

    rows = []
    for i in range(12):
        rows.append((i, make_png(8 + i % 5, 6 + i % 3, seed=i)))
    for i in range(12, 22):
        rows.append((i, make_wav(8000 * (1 + i % 3), seed=i)))
    for i in range(26, 30):
        rows.append((i, make_gif(6 + i % 3, 4 + i % 2, seed=i)))
    # a real baseline JPEG — decodable here (operators/jpeg.py)
    rows.append((22, make_jpeg(dc=21)))
    # an ARITHMETIC-CODED header (SOF9): dimensions ARE routable via
    # the bounded SOF scan, but decode honestly needs libjpeg -> quarantine
    sof9 = b"\xff\xc9" + struct.pack(">H", 11) + bytes([8]) + struct.pack(">HH", 200, 320) + bytes([1, 1, 0x11, 0])
    rows.append((23, b"\xff\xd8" + b"\xff\xe0" + struct.pack(">H", 4) + b"JF"
                 + sof9 + b"\xff\xda" + struct.pack(">H", 4) + b"\x00\x00 entropy"))
    # a structured mp4: ftyp + moov (mvhd/tkhd/stts) + mdat — decode
    # is codec territory, but the metadata routes for real
    import struct as _s

    def _bx(t, p):
        return _s.pack(">I", 8 + len(p)) + t + p
    mvhd = bytes(4) + _s.pack(">II", 1, 2) + _s.pack(">II", 1000, 7500) + bytes(80)
    tkhd = (bytes(4) + _s.pack(">III", 1, 2, 3) + bytes(4) + _s.pack(">I", 7500)
            + bytes(16) + bytes(36) + _s.pack(">II", 640 << 16, 360 << 16))
    stts = _bx(b"stts", bytes(4) + _s.pack(">I", 1) + _s.pack(">II", 180, 512))
    trak = _bx(b"trak", _bx(b"tkhd", tkhd)
               + _bx(b"mdia", _bx(b"minf", _bx(b"stbl", stts))))
    rows.append((24, _bx(b"ftyp", b"isom" + _s.pack(">I", 512))
                 + _bx(b"mdat", b"\x5a" * 64)
                 + _bx(b"moov", _bx(b"mvhd", mvhd) + trak)))
    rows.append((25, b"not media at all"))
    # an ANIMATED gif: 5 full-cover frames cycling the palette — the
    # n_frames routing column separates it from the static gifs and
    # sample_frames fans its composed frames out as PNGs
    anim = bytearray(make_gif(6, 4, seed=0))
    body = bytes(anim[: len(anim) - 1])  # drop the trailer
    extra = make_gif(6, 4, seed=2)
    frame_blocks = extra[13 + 12 : len(extra) - 1]  # descriptor..data
    rows.append((30, body + frame_blocks * 4 + b"\x3b"))
    corpus = spark.createDataFrame(rows, "media_id long, media binary")

    # 2. JVM-side header classification (no Python, no full-blob read)
    classified = parse_media_headers(corpus)
    print("-- header classification (pure column exprs) --")
    classified.groupBy("media_meta.kind", "media_meta.format").count() \
        .orderBy("kind", "format").show()

    # 2b. JPEG dimensions + coding profile via the bounded-prefix SOF
    # scan (Arrow UDF over the leading bytes only)
    classified = with_gif_metadata(
        with_mp4_metadata(with_jpeg_profile(with_jpeg_dimensions(classified))))
    print("-- animation routing: gif frame counts, no decode --")
    classified.where(F.col("media_meta.format") == "gif") \
        .select("media_id", "media_meta.n_frames").orderBy("media_id").show()

    # 2c. frame sampling: the animated gif fans out composed frames as
    # self-contained PNGs; the mp4's encoded samples would too if its
    # fixture carried sample tables (this one is metadata-only)
    frames = sample_frames(
        classified.where(F.col("media_meta.n_frames") > 1), max_frames=3)
    print("-- evenly-spaced frames from the animated gif (as PNGs) --")
    frames.select("media_id", "frame_idx", F.length("frame").alias("png_bytes")) \
        .orderBy("media_id", "frame_idx").show()
    print("-- image rows routable by dimensions (incl. jpeg via SOF scan) --")
    classified.where(F.col("media_meta.kind") == "image") \
        .select("media_id", "media_meta.format", "jpeg_profile",
                "media_meta.width", "media_meta.height") \
        .where(F.col("width") >= 8).orderBy("media_id").show()

    # 3. + 4. route, size-balance, REAL decode on the decodable slice:
    # png/wav always; jpeg only when the profile is huffman-decodable
    # (arithmetic-coded is quarantined, not crashed on)
    is_decodable = (F.col("media_meta.format").isin("png", "wav")
                    | F.col("jpeg_profile").isin(*JPEG_DECODABLE_PROFILES))
    is_decodable = is_decodable | (F.col("media_meta.format") == "gif")
    decodable = classified.where(is_decodable)
    quarantined = classified.where(~is_decodable | is_decodable.isNull())
    feats = extract_features(media_repartition(decodable, target_bytes=4096))

    # 5. per-kind feature centroid (features are normalized histograms
    # of the DECODED samples, so the centroid is one too)
    print("-- per-kind decoded-feature centroids --")
    n_dim = 8
    feats.groupBy("kind").agg(
        F.count(F.lit(1)).alias("n_media"),
        *[F.avg(F.col("features")[i]).alias(f"f{i}") for i in range(n_dim)],
    ).orderBy("kind").show(truncate=False)

    # 4b. uniform thumbnails for the image slice (decode -> exact
    # bilinear -> PNG re-encode); every output is a decodable 6x4 PNG
    thumbs = resize_images(
        decodable.where(F.col("media_meta.kind") == "image"), 6, 4,
        method="bilinear")
    print("-- resized thumbnails (decode -> bilinear -> encode_png) --")
    thumbs.groupBy("media_meta.format", "media_meta.width", "media_meta.height") \
        .count().show()

    # 4c. normalize the audio slice to 16 kHz (exact-integer linear
    # resample; sample width preserved)
    audio16k = resample_audio(
        decodable.where(F.col("media_meta.kind") == "audio"), 16000)
    print("-- audio normalized to 16 kHz (decode -> resample -> encode_wav) --")
    audio16k.groupBy("media_meta.format", "media_meta.sample_rate") \
        .count().show()

    print("-- quarantined (never reached the Python stage) --")
    print("   (the mp4 row still ROUTES on real container metadata)")
    quarantined.select("media_id", "media_meta.format", "media_meta.width",
                       "media_meta.n_frames", "media_meta.duration_ms") \
        .orderBy("media_id").show()

    spark.stop()


if __name__ == "__main__":
    main()
