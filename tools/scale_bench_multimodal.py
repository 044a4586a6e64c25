"""Multimodal-layer scaling measurement (round 11).

The multimodal operators had plan-shape claims but no measured
throughput. This tool synthesizes a mixed media corpus of REAL
containers (PNG built from deterministic pixel arrays + zlib, WAV from
PCM arrays, structurally-valid JPEG headers with SOF dimensions, junk
bytes) as a parquet table of binary blobs, then measures each stage at
increasing corpus sizes:

- classify   — parse_media_headers (pure column exprs, JVM-side)
- jpegdim    — with_jpeg_dimensions + with_jpeg_profile (bounded-prefix
               Arrow SOF scan: dimensions AND coding profile)
- route+decode — filter to png/wav/huffman-jpeg then
                 extract_features (real stdlib codecs, incl. the
                 JPEG decoder, in Arrow-batched mapInPandas);
                 arithmetic-coded jpegs are routed away, never crash
                 the stage
- repartition_by_files — sizing from file metadata (no payload scan)
- resize      — image rows: decode -> exact-integer bilinear 32x32 ->
                encode_png (round-11 write path)
- resample    — wav rows: decode -> exact-integer linear resample to
                16 kHz -> encode_wav

Each row reports wall seconds, corpus bytes, and MB/s. The 100 TB
question per stage: classify/jpegdim must track bytes READ (leading
bytes only), decode must track decoded bytes linearly.

Run: python tools/scale_bench_multimodal.py [multipliers...] (default 1 4)
Record the table in SCALING.md.
"""

from __future__ import annotations

import json
import os
import shutil
import struct
import sys
import tempfile
import time
import zlib

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import pyspark.sql.functions as F  # noqa: E402

N_BASE = 400  # blobs per format per multiplier unit


def _chunk(ctype: bytes, body: bytes) -> bytes:
    return (struct.pack(">I", len(body)) + ctype + body
            + struct.pack(">I", zlib.crc32(ctype + body)))


def make_png(w: int, h: int, seed: int) -> bytes:
    px = bytes((seed * 37 + i * 11) % 256 for i in range(w * h * 3))
    raw = b"".join(b"\x00" + px[y * w * 3:(y + 1) * w * 3] for y in range(h))
    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)
    return (b"\x89PNG\r\n\x1a\n" + _chunk(b"IHDR", ihdr)
            + _chunk(b"IDAT", zlib.compress(raw)) + _chunk(b"IEND", b""))


def make_wav(rate: int, seed: int, n: int) -> bytes:
    samples = [((seed * 131 + i * 977) % 65536) - 32768 for i in range(n)]
    pcm = struct.pack(f"<{n}h", *samples)
    return (b"RIFF" + struct.pack("<I", 36 + len(pcm)) + b"WAVE"
            + b"fmt " + struct.pack("<IHHIIHH", 16, 1, 1, rate, rate * 2, 2, 16)
            + b"data" + struct.pack("<I", len(pcm)) + pcm)


def make_jpeg_arith(w: int, h: int, pad: int) -> bytes:
    """Structurally-valid ARITHMETIC-CODED header (SOF9): routable,
    honestly not decodable without libjpeg."""
    app0 = b"\xff\xe0" + struct.pack(">H", 4 + pad) + b"JF" + b"\x00" * pad
    sof_body = bytes([8]) + struct.pack(">HH", h, w) + bytes([1, 1, 0x11, 0])
    sof = b"\xff\xc9" + struct.pack(">H", 2 + len(sof_body)) + sof_body
    sos = b"\xff\xda" + struct.pack(">H", 4) + b"\x00\x00"
    return b"\xff\xd8" + app0 + sof + sos + b"\x5a" * 2048 + b"\xff\xd9"


def make_jpeg_baseline(w: int, h: int, dc: int) -> bytes:
    """A REAL multi-block grayscale baseline JPEG, hand-assembled:
    flat quant 16, 12 DC categories at length 4, single-EOB AC table.
    First block carries `dc`, the rest diff 0 — every block still runs
    the full huffman + IDCT decode path."""
    def seg(marker: int, body: bytes) -> bytes:
        return bytes([0xFF, marker]) + struct.pack(">H", 2 + len(body)) + body

    dc_bits = [0] * 16
    dc_bits[3] = 12
    ac_bits = [0] * 16
    ac_bits[0] = 1  # '0' -> EOB
    size = dc.bit_length()
    bits = f"{size:04b}" + (f"{dc:0{size}b}" if size else "") + "0"
    n_blocks = ((w + 7) // 8) * ((h + 7) // 8)
    bits += ("0000" + "0") * (n_blocks - 1)
    bits += "1" * ((8 - len(bits) % 8) % 8)
    entropy = bytes(int(bits[i:i + 8], 2) for i in range(0, len(bits), 8))
    return (b"\xff\xd8"
            + seg(0xDB, bytes([0]) + bytes([16] * 64))
            + seg(0xC4, bytes([0x00]) + bytes(dc_bits) + bytes(range(12)))
            + seg(0xC4, bytes([0x10]) + bytes(ac_bits) + bytes([0x00]))
            + seg(0xC0, bytes([8]) + struct.pack(">HH", h, w) + bytes([1, 1, 0x11, 0]))
            + seg(0xDA, bytes([1, 1, 0x00, 0, 63, 0]))
            + entropy + b"\xff\xd9")


def _lzw_literal(indices, min_code: int) -> bytes:
    """Literal-code GIF-LZW stream (decoder dictionary growth tracked
    for code-width bumps)."""
    clear, eoi, width, size = 1 << min_code, (1 << min_code) + 1, min_code + 1, (1 << min_code) + 2
    bits = []

    def put(code, wd):
        for i in range(wd):
            bits.append((code >> i) & 1)

    put(clear, min_code + 1)
    first = True
    for v in indices:
        put(v, width)
        if not first:
            size += 1
            if size == (1 << width) and width < 12:
                width += 1
        first = False
    put(eoi, width)
    raw = bytearray()
    for i in range(0, len(bits), 8):
        v = 0
        for j, b in enumerate(bits[i:i + 8]):
            v |= b << j
        raw.append(v)
    return bytes(raw)


def make_gif_anim(w: int, h: int, n_frames: int, seed: int) -> bytes:
    """Real animated GIF89a: n_frames full-cover frames, 4-color
    global palette, per-frame GCE with a delay (so duration_ms routes)."""
    pal = bytes([255, 0, 0, 0, 255, 0, 0, 0, 255, 9, 9, 9])
    out = b"GIF89a" + struct.pack("<HH", w, h) + bytes([0x81, 0, 0]) + pal
    for f in range(n_frames):
        out += bytes([0x21, 0xF9, 4, 0, 5, 0, 0, 0])  # GCE: 5 cs delay
        out += bytes([0x2C]) + struct.pack("<HHHH", 0, 0, w, h) + bytes([0, 2])
        raw = _lzw_literal([(seed + f + i) % 4 for i in range(w * h)], 2)
        for i in range(0, len(raw), 255):
            chunk = raw[i:i + 255]
            out += bytes([len(chunk)]) + chunk
        out += b"\x00"
    return out + b"\x3b"


def synthesize(spark, m: int, out: str) -> int:
    rows = []
    mid = 0
    for k in range(m):
        for i in range(N_BASE):
            rows.append((mid, make_png(48 + (i % 17), 32 + (i % 11), seed=k * 1000 + i))); mid += 1
            rows.append((mid, make_wav(8000, seed=k * 1000 + i, n=4096 + 64 * (i % 9)))); mid += 1
            if i % 2 == 0:
                rows.append((mid, make_jpeg_baseline(320 + 8 * (i % 7), 200 + 8 * (i % 5), dc=i % 100)))
            else:
                rows.append((mid, make_jpeg_arith(320 + i % 7, 200 + i % 5, pad=i % 300)))
            mid += 1
            rows.append((mid, b"junk" + bytes([(k + i) % 256]) * 512)); mid += 1
            if i % 4 == 0:  # one animated gif per 4 base rows
                rows.append((mid, make_gif_anim(12 + i % 5, 8 + i % 3,
                                                4 + i % 5, seed=k * 7 + i)))
                mid += 1
    df = spark.createDataFrame(rows, "media_id long, media binary")
    df.repartition(8).write.mode("overwrite").parquet(out)
    return sum(len(r[1]) for r in rows), len(rows)


def main() -> None:
    mults = [int(a) for a in sys.argv[1:]] or [1, 4]
    from goconnect_spark.operators.multimodal import (
        JPEG_DECODABLE_PROFILES,
        extract_features,
        media_repartition_by_files,
        parse_media_headers,
        resample_audio,
        resize_images,
        sample_frames,
        with_gif_metadata,
        with_jpeg_dimensions,
        with_jpeg_profile,
    )
    from goconnect_spark.session import get_spark

    spark = get_spark("multimodal-scale")
    spark.sparkContext.setLogLevel("ERROR")
    for m in mults:
        work = tempfile.mkdtemp(prefix=f"mm_scale_m{m}_")
        try:
            total, n_rows = synthesize(spark, m, f"{work}/media.parquet")
            corpus = spark.read.parquet(f"{work}/media.parquet")
            mb = total / 1e6

            t0 = time.time()
            classified = parse_media_headers(corpus)
            counts = {f"{r[0]}/{r[1]}": r[2] for r in classified.groupBy(
                "media_meta.kind", "media_meta.format").count().collect()}
            t_classify = time.time() - t0

            t0 = time.time()
            dims = with_jpeg_profile(with_jpeg_dimensions(classified))
            n_dim = dims.where(F.col("media_meta.width").isNotNull()).count()
            t_jpegdim = time.time() - t0

            t0 = time.time()
            decodable = dims.where(
                F.col("media_meta.format").isin("png", "wav")
                | F.col("jpeg_profile").isin(*JPEG_DECODABLE_PROFILES))
            sized = media_repartition_by_files(
                decodable, target_bytes=8 * 1024 * 1024)
            n_feat = extract_features(sized).count()
            t_decode = time.time() - t0

            t0 = time.time()
            n_resized = resize_images(
                sized.where(F.col("media_meta.kind") == "image"),
                32, 32, method="bilinear").count()
            t_resize = time.time() - t0

            t0 = time.time()
            gifmeta = with_gif_metadata(classified)
            n_anim = gifmeta.where(F.col("media_meta.n_frames") > 1).count()
            t_gifmeta = time.time() - t0

            t0 = time.time()
            n_frames_out = sample_frames(
                gifmeta.where(F.col("media_meta.n_frames") > 1),
                max_frames=4).count()
            t_frames = time.time() - t0

            t0 = time.time()
            n_resampled = resample_audio(
                sized.where(F.col("media_meta.kind") == "audio"), 16000).count()
            t_resample = time.time() - t0

            print(json.dumps({
                "m": m, "blobs": n_rows, "mb": round(mb, 1),
                "classify_s": round(t_classify, 2),
                "classify_mb_s": round(mb / t_classify, 1),
                "jpegdim_s": round(t_jpegdim, 2),
                "decode_s": round(t_decode, 2),
                "decode_mb_s": round(mb / t_decode, 1),
                "resize_s": round(t_resize, 2), "n_resized": n_resized,
                "resample_s": round(t_resample, 2), "n_resampled": n_resampled,
                "gifmeta_s": round(t_gifmeta, 2), "n_anim": n_anim,
                "gif_frames_s": round(t_frames, 2), "n_frames": n_frames_out,
                "n_sized_dims": n_dim, "n_decoded": n_feat,
                "counts": counts,
            }), flush=True)
        finally:
            shutil.rmtree(work, ignore_errors=True)
    spark.stop()


if __name__ == "__main__":
    main()
