"""Multimodal (image/audio/video) column operators.

Engine additions per BASELINE.json: media as opaque ``binary``
columns plus typed metadata, processed with Arrow-batched
``mapInPandas`` — the Spark-idiomatic shape for a 100 TB multimodal
training-data pipeline:

- media bytes live in a ``binary`` column next to typed metadata
  (format/width/height/duration), so Catalyst prunes the heavy bytes
  away unless a stage actually reads them;
- format sniffing and byte-level metadata are JVM-side expressions
  (no Python in the hot path);
- decode / feature-extract / resize / frame-sample run as
  ``mapInPandas`` stages: Arrow moves the bytes to Python in batches,
  one decoder instance per partition, output schema declared up
  front.

The actual codecs (PIL/ffmpeg/librosa) are NOT in this environment,
so the decode kernels are pluggable: ``decoder=`` accepts any
``bytes -> dict`` callable; the default ``fake_decode_*`` kernels are
deterministic pure-Python stand-ins (md5-derived) so the plumbing —
schema, batching, partitioning — is fully real and testable, while
``real_decode_image`` raises NotImplementedError until a codec
library is installed. Swapping fake -> real changes no Spark code.
"""

from __future__ import annotations

import hashlib
from typing import Callable, Iterator

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# Under-parallelism guard for the decode stages: a small media table
# can arrive as one parquet split, which would run every decode on a
# single core. Plan-metadata decision only — never df.rdd, which under
# AQE would execute the media scan once just to read a partition count
# (a full extra pass over the media bytes at 100 TB). Shared helper:
# operators/fanout.py.
from ulh_etl_spark.operators.fanout import fan_out as _spread

# magic-byte prefixes -> format tag (sniffed JVM-side via substring)
_MAGIC = {
    "89504E47": "png",
    "FFD8FF": "jpeg",
    "47494638": "gif",
    "52494646": "riff",  # wav/avi container
    "00000018": "mp4",
    "00000020": "mp4",
    "1A45DFA3": "webm",
}

MEDIA_SCHEMA = (
    "media_id long, kind string, content binary, "
    "format string, size_bytes long"
)


def sniff_format(content: Column) -> Column:
    """Format tag from magic bytes — pure JVM expression chain
    (hex prefix compare), no UDF."""
    hex8 = F.upper(F.hex(F.substring(content, 1, 4)))
    expr = F.lit("unknown")
    # Each wrap puts the new condition OUTERMOST (evaluated first), so
    # iterate shortest-prefix-first: the longest prefixes end up on the
    # outside and a 3-byte jpeg magic can't shadow a 4-byte FFD8FFE0
    # variant added later. (Ties break on the hex string for
    # determinism.)
    for magic, fmt in sorted(_MAGIC.items(), key=lambda kv: (len(kv[0]), kv[0])):
        expr = F.when(F.substring(hex8, 1, len(magic)) == magic, F.lit(fmt)).otherwise(
            expr
        )
    return expr


def media_metadata(df: DataFrame, content_col: str = "content") -> DataFrame:
    """Byte-level metadata columns: size, md5, sniffed format. All
    JVM-side; the binary column itself is untouched (and prunable)."""
    c = F.col(content_col)
    return (
        df.withColumn("size_bytes", F.octet_length(c).cast("long"))
        .withColumn("content_md5", F.md5(c))
        .withColumn("format", sniff_format(c))
    )


# ---------------------------------------------------------- decode kernels


def fake_decode_image(content: bytes) -> dict:
    """Deterministic stand-in for an image decoder: width/height/
    channels derived from the content md5 — stable across engines and
    runs, shaped like real decoder output."""
    h = hashlib.md5(content).digest()
    return {
        "width": 64 + h[0] * 8,
        "height": 64 + h[1] * 8,
        "channels": 1 + (h[2] % 4),
    }


def fake_decode_audio(content: bytes) -> dict:
    h = hashlib.md5(content).digest()
    return {
        "sample_rate": (8, 16, 22, 44)[h[0] % 4] * 1000,
        "n_samples": 1000 + int.from_bytes(h[1:4], "big") % 100000,
        "channels": 1 + (h[4] % 2),
    }


def fake_decode_video(content: bytes) -> dict:
    h = hashlib.md5(content).digest()
    return {
        "width": 320 + (h[0] % 8) * 80,
        "height": 240 + (h[1] % 8) * 60,
        "n_frames": 24 + int.from_bytes(h[2:4], "big") % 2400,
        "fps": float((24, 25, 30, 60)[h[4] % 4]),
    }


def decode_png(content: bytes, keep_pixels: bool = False) -> dict:
    """REAL PNG decode with the standard library only (zlib + struct,
    per the public PNG spec / RFC 2083): parse IHDR, inflate the IDAT
    stream, reverse the per-scanline filters (None/Sub/Up/Average/
    Paeth), and return typed metadata plus the mean pixel value —
    proof the pixels were actually reconstructed, not just sniffed.

    Supports the common case (8-bit depth, non-interlaced, color
    types 0/2/4/6); anything else raises ValueError so callers fall
    back or fail loudly rather than mis-decode."""
    import struct
    import zlib

    if content[:8] != b"\x89PNG\r\n\x1a\n":
        raise ValueError("not a PNG")
    pos, width = 8, None
    idat = b""
    while pos + 8 <= len(content):
        (length,), ctype = struct.unpack(">I", content[pos : pos + 4]), content[
            pos + 4 : pos + 8
        ]
        data = content[pos + 8 : pos + 8 + length]
        if ctype == b"IHDR":
            width, height, bit_depth, color_type, _, _, interlace = struct.unpack(
                ">IIBBBBB", data
            )
        elif ctype == b"IDAT":
            idat += data
        elif ctype == b"IEND":
            break
        pos += 12 + length
    if width is None:
        raise ValueError("PNG missing IHDR")
    # color_type 3 (palette) would pass the channels lookup but its
    # samples are PLTE indices, not intensities — mean_pixel over
    # indices is silently wrong, so reject it with the other
    # unsupported shapes (PIL handles palettes when installed).
    if color_type not in (0, 2, 4, 6):
        raise ValueError(f"unsupported PNG color type {color_type}")
    channels = {0: 1, 2: 3, 4: 2, 6: 4}[color_type]
    if bit_depth != 8 or interlace != 0:
        raise ValueError(f"unsupported PNG (bit_depth={bit_depth}, interlace={interlace})")

    raw = zlib.decompress(idat)
    bpp = channels  # bytes per pixel at 8-bit depth
    stride = width * bpp
    prior = bytearray(stride)
    total = 0
    out_pos = 0
    px = bytearray() if keep_pixels else None
    for _y in range(height):
        ftype = raw[out_pos]
        line = bytearray(raw[out_pos + 1 : out_pos + 1 + stride])
        out_pos += 1 + stride
        if ftype == 1:  # Sub
            for i in range(bpp, stride):
                line[i] = (line[i] + line[i - bpp]) & 0xFF
        elif ftype == 2:  # Up
            for i in range(stride):
                line[i] = (line[i] + prior[i]) & 0xFF
        elif ftype == 3:  # Average
            for i in range(stride):
                left = line[i - bpp] if i >= bpp else 0
                line[i] = (line[i] + (left + prior[i]) // 2) & 0xFF
        elif ftype == 4:  # Paeth
            for i in range(stride):
                a = line[i - bpp] if i >= bpp else 0
                b = prior[i]
                c = prior[i - bpp] if i >= bpp else 0
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = a if pa <= pb and pa <= pc else (b if pb <= pc else c)
                line[i] = (line[i] + pred) & 0xFF
        elif ftype != 0:
            raise ValueError(f"bad PNG filter {ftype}")
        total += sum(line)
        prior = line
        if px is not None:
            px.extend(line)
    n_px_bytes = height * stride
    out = {
        "width": width,
        "height": height,
        "channels": channels,
        "mean_pixel": round(total / n_px_bytes, 6) if n_px_bytes else 0.0,
    }
    if px is not None:
        out["pixels"] = bytes(px)
    return out


def encode_png(width: int, height: int, pixels: bytes, channels: int = 3) -> bytes:
    """Minimal stdlib PNG encoder (filter-0 scanlines) — the test/data
    generator counterpart of :func:`decode_png`."""
    import struct
    import zlib

    color_type = {1: 0, 2: 4, 3: 2, 4: 6}[channels]

    def chunk(ctype: bytes, data: bytes) -> bytes:
        return (
            struct.pack(">I", len(data))
            + ctype
            + data
            + struct.pack(">I", zlib.crc32(ctype + data) & 0xFFFFFFFF)
        )

    stride = width * channels
    raw = b"".join(
        b"\x00" + pixels[y * stride : (y + 1) * stride] for y in range(height)
    )
    ihdr = struct.pack(">IIBBBBB", width, height, 8, color_type, 0, 0, 0)
    return (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(raw))
        + chunk(b"IEND", b"")
    )


def encode_wav_pcm16(samples, sample_rate: int = 8000) -> bytes:
    """Minimal REAL WAV writer (stdlib ``wave``): mono 16-bit PCM.
    The audio counterpart of :func:`encode_png` — test/data-generator
    side of the real-codec pair."""
    import io
    import struct
    import wave

    import numpy as np

    arr = np.asarray(
        samples if isinstance(samples, np.ndarray) else list(samples),
        dtype=np.int64,
    )
    if arr.size and (arr.max() > 32767 or arr.min() < -32768):
        raise struct.error("sample out of int16 range")
    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(1)
        w.setsampwidth(2)
        w.setframerate(sample_rate)
        # vectorized little-endian int16 pack — byte-identical to the
        # per-sample struct.pack('<h') loop, ~30x less Python
        w.writeframes(arr.astype("<i2").tobytes())
    return buf.getvalue()


def decode_wav_pcm16(content: bytes) -> dict:
    """REAL WAV decode with the standard library only (``wave`` —
    RIFF/PCM per the public WAVE spec): mono-or-first-channel 16-bit
    samples plus stream metadata. Refuses non-16-bit widths (a mean
    over mis-width samples would be silently wrong — decode_png's
    palette rule)."""
    import io
    import struct
    import wave

    with wave.open(io.BytesIO(content), "rb") as w:
        if w.getsampwidth() != 2:
            raise ValueError(
                f"unsupported sample width {w.getsampwidth()} (PCM16 only)"
            )
        nch = w.getnchannels()
        n = w.getnframes()
        raw = w.readframes(n)
        all_samples = struct.unpack(f"<{n * nch}h", raw)
        return {
            "sample_rate": w.getframerate(),
            "n_channels": nch,
            "n_samples": n,
            "samples": list(all_samples[::nch]),  # first channel
        }


# Mean |amplitude| (PCM16) at or above which an envelope frame is loud.
_ENERGY_THRESHOLD = 8000.0


def audio_energy_fingerprint(content: bytes, n_bits: int = 60) -> int:
    """Energy-envelope audio fingerprint over REAL WAV bytes: the
    stream splits into ``n_bits`` equal frames; bit i is set iff
    frame i's mean |amplitude| >= 8000. The chromaprint-
    style loud/quiet envelope at its simplest — deterministic,
    codec-real (stdlib decode), and band-joinable exactly like an
    image phash (:func:`phash_neardup_pairs` is hash-agnostic).
    Streams shorter than ``n_bits`` samples pad with silent frames.

    Width matters at corpus scale: a 16-bit space saturates once the
    corpus passes ~2^16 distinct streams (hamming-<=3 base-rate
    collisions ~1% of pairs — measured 13 M spurious pairs at sf1 in
    the r9 catalog). The default is 60 bits, the widest SIGN-SAFE
    width for the LongType phash column (bit 63 would overflow the
    signed 64-bit long; q147 and the DuckDB oracle twin share the
    same 60). Callers may pass up to 63.

    Decodes with stdlib ``wave`` straight into a numpy int16 view
    (same real-codec path as decode_wav_pcm16, minus the per-sample
    Python list the envelope never needed — the widened 60-frame
    fingerprint made the list loop the q147 bottleneck)."""
    import io
    import wave

    import numpy as np

    if n_bits > 63:
        raise ValueError(
            f"n_bits={n_bits} would overflow a signed 64-bit phash column"
        )
    with wave.open(io.BytesIO(content), "rb") as w:
        if w.getsampwidth() != 2:
            raise ValueError(
                f"unsupported sample width {w.getsampwidth()} (PCM16 only)"
            )
        nch = w.getnchannels()
        raw = w.readframes(w.getnframes())
    s = np.abs(np.frombuffer(raw, dtype="<i2")[::nch].astype(np.int64))
    n = s.size
    fp = 0
    if n == 0:
        return 0
    frame = max(1, n // n_bits)
    for i in range(n_bits):
        seg = s[i * frame : (i + 1) * frame]
        if seg.size and seg.sum() / seg.size >= _ENERGY_THRESHOLD:
            fp |= 1 << i
    return fp


def real_decode_image(content: bytes) -> dict:
    """Real image decode. Prefers PIL when installed (any format);
    falls back to the stdlib :func:`decode_png` for PNG bytes, so ONE
    real codec path works with zero dependencies. Same output fields
    as the fake kernel plus ``mean_pixel``, so swapping fake -> real
    changes only the ``out_fields`` string."""
    try:
        from PIL import Image  # optional dependency
    except ImportError:
        Image = None

    if Image is not None:
        import io

        with Image.open(io.BytesIO(content)) as im:
            px = im.tobytes()
            return {
                "width": im.width,
                "height": im.height,
                "channels": len(im.getbands()),
                "mean_pixel": round(sum(px) / len(px), 6) if px else 0.0,
            }
    if content[:8] == b"\x89PNG\r\n\x1a\n":
        return decode_png(content)
    raise NotImplementedError(
        "no codec for this format in this environment (PIL absent, not "
        "a PNG); pass decoder=fake_decode_image or install PIL"
    )


# ------------------------------------------------------- mapInPandas ops


def decode_media(
    df: DataFrame,
    decoder: Callable[[bytes], dict],
    out_fields: str,
) -> DataFrame:
    """Decode each media blob into typed metadata fields via
    ``mapInPandas``: Arrow ships (id, bytes) batches to Python, the
    decoder runs once per row, output is (id, *out_fields). The heavy
    binary column never leaves the stage — downstream joins carry
    only the slim decoded rows.

    ``out_fields`` e.g. ``"width int, height int, channels int"``.
    """
    import pandas as pd

    names = [f.strip().split()[0] for f in out_fields.split(",")]

    def _run(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        for pdf in batches:
            decoded = [decoder(b) for b in pdf["content"]]
            out = {"media_id": pdf["media_id"].values}
            for n in names:
                out[n] = [d[n] for d in decoded]
            yield pd.DataFrame(out)

    return _spread(df.select("media_id", "content")).mapInPandas(
        _run, schema=f"media_id long, {out_fields}"
    )


def _fake_resize(content: bytes, w: int, h: int) -> bytes:
    stamp = f"RSZ:{w}x{h}:".encode() + hashlib.md5(content).digest()[:4]
    return stamp + content[: max(0, 256 - len(stamp))]


def resize_images(df: DataFrame, target_w: int, target_h: int) -> DataFrame:
    """Image resize as a binary->binary mapInPandas stage. The kernel
    is a deterministic fake (md5-stamped header + truncation)
    standing in for a real codec; the Spark plumbing — Arrow binary
    round-trip, schema, batching — is the real article.
    """
    import pandas as pd

    def _run(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"].values,
                    "content": [_fake_resize(b, target_w, target_h)
                                for b in pdf["content"]],
                    "width": target_w,
                    "height": target_h,
                }
            )

    return _spread(df.select("media_id", "content")).mapInPandas(
        _run, schema="media_id long, content binary, width int, height int"
    )


def sample_frames(
    df: DataFrame,
    every_nth: int = 30,
    max_frames: int = 8,
    frame_extractor: Callable[[bytes, int], bytes] | None = None,
) -> DataFrame:
    """Video frame sampling: one output row per sampled frame
    (media_id, frame_idx, frame bytes) — the explode-shaped
    mapInPandas stage a video pipeline needs. Fake extractor derives
    frame bytes deterministically from (content md5, frame index)."""
    import pandas as pd

    if frame_extractor is None:
        def frame_extractor(content: bytes, idx: int) -> bytes:  # fake kernel
            return hashlib.md5(content + idx.to_bytes(4, "big")).digest()

    def _run(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        for pdf in batches:
            ids, idxs, frames = [], [], []
            for mid, content in zip(pdf["media_id"], pdf["content"]):
                n = min(max_frames, max(1, len(content) // every_nth))
                for k in range(n):
                    ids.append(mid)
                    idxs.append(k * every_nth)
                    frames.append(frame_extractor(content, k * every_nth))
            yield pd.DataFrame(
                {"media_id": ids, "frame_idx": idxs, "frame": frames}
            )

    return _spread(df.select("media_id", "content")).mapInPandas(
        _run, schema="media_id long, frame_idx int, frame binary"
    )


def embed_media(
    df: DataFrame,
    dim: int = 8,
    embedder: Callable[[bytes], list] | None = None,
    vec_type: str = "float",
) -> DataFrame:
    """Media -> embedding vector (array<``vec_type``>): the
    feature-extract stage feeding similarity search. Fake embedder:
    md5-expanded pseudo-embedding, unit-length floats. Use
    ``vec_type='double'`` when downstream math must be bit-identical
    to a double-precision oracle (float32 truncation would shift
    distance comparisons)."""
    import pandas as pd

    if embedder is None:
        def embedder(content: bytes) -> list:
            raw = hashlib.md5(content).digest()
            while len(raw) < dim:
                raw += hashlib.md5(raw).digest()
            vals = [raw[i] / 255.0 for i in range(dim)]
            norm = sum(v * v for v in vals) ** 0.5 or 1.0
            return [round(v / norm, 6) for v in vals]

    def _run(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"].values,
                    "embedding": [embedder(b) for b in pdf["content"]],
                }
            )

    return _spread(df.select("media_id", "content")).mapInPandas(
        _run, schema=f"media_id long, embedding array<{vec_type}>"
    )


# ------------------------------------------------- perceptual-hash dedup


# dHash grid side: 8 x 8 comparisons, a 64-bit hash.
_DHASH_SIZE = 8


def dhash_image(content: bytes) -> int:
    """REAL difference-hash (dHash): decode, grayscale, box-downsample
    to 9 x 8, set bit (row-major) iff the left
    cell is brighter than its right neighbor. Near-identical images
    (recompression, small edits, resize) land within a few bits; the
    standard cheap image near-dup signature. PIL path for any format;
    stdlib PNG decode otherwise (same fallback chain as
    real_decode_image). Integer box-mean arithmetic — bit-exact across
    platforms."""
    try:
        from PIL import Image  # optional dependency
    except ImportError:
        Image = None

    import numpy as np

    w = _DHASH_SIZE + 1
    h = _DHASH_SIZE
    if Image is not None:
        import io

        with Image.open(io.BytesIO(content)) as im:
            gray = im.convert("L")
            width, height = gray.width, gray.height
            gpx = np.frombuffer(gray.tobytes(), dtype=np.uint8)
    else:
        d = decode_png(content, keep_pixels=True)
        width, height, ch = d["width"], d["height"], d["channels"]
        # integer grayscale: mean of the color channels (alpha, when
        # present as channel 2 of 2 or 4 of 4, is excluded)
        color_ch = {1: 1, 2: 1, 3: 3, 4: 3}[ch]
        raw = np.frombuffer(d["pixels"], dtype=np.uint8).reshape(-1, ch)
        gpx = raw[:, :color_ch].astype(np.int64).sum(axis=1) // color_ch
    if width < w or height < h:
        raise ValueError(f"image {width}x{height} smaller than hash grid {w}x{h}")

    # Integer box means over the floor-division grid, vectorized as
    # two reduceat passes (C loops, no per-pixel Python) — bit-exact
    # with the straight acc//area definition on both decode paths.
    arr = gpx.reshape(height, width).astype(np.int64)
    xs = np.array([x * width // w for x in range(w + 1)])
    ys = np.array([y * height // h for y in range(h + 1)])
    col_sums = np.add.reduceat(arr, xs[:-1], axis=1)
    box_sums = np.add.reduceat(col_sums, ys[:-1], axis=0)
    areas = np.outer(np.diff(ys), np.diff(xs))
    means = box_sums // areas  # (h, w) grid

    cmp = means[:, :_DHASH_SIZE] > means[:, 1:]  # left brighter than right
    bits = 0
    for i, v in enumerate(cmp.reshape(-1)):
        if v:
            bits |= 1 << i
    return bits


def frame_scene_changes(
    frame_phashes: DataFrame,
    threshold: int = 10,
) -> DataFrame:
    """Video scene-change detection over per-frame perceptual hashes:
    a scene boundary is a consecutive-frame Hamming jump above
    ``threshold`` bits (the classic cheap shot detector — dHash is
    stable within a shot, jumps across cuts). Input is the (id,
    frame_idx, phash) relation from sample_frames -> a frame hasher;
    output one row per media: (id, n_frames, n_scene_changes,
    max_frame_delta — NULL for single-frame media).

    Scale: ONE shuffle (the per-media lag window); frames per media
    are bounded by the sampler's max_frames, so window groups are
    tiny regardless of corpus size and the whole pass is linear in
    sampled frames. The frame BYTES never reach this operator — only
    (id, idx, long), the same narrow-feature contract as media_phash."""
    from pyspark.sql import Window

    w = Window.partitionBy("media_id").orderBy("frame_idx")
    ham = F.bit_count(
        F.col("phash").bitwiseXOR(F.lag("phash").over(w))
    )
    return (
        frame_phashes.withColumn("_ham", ham)
        .groupBy("media_id")
        .agg(
            F.count("*").alias("n_frames"),
            F.coalesce(
                F.sum((F.col("_ham") > threshold).cast("long")), F.lit(0)
            ).alias("n_scene_changes"),
            F.max("_ham").cast("int").alias("max_frame_delta"),
        )
    )


def portable_phash(content: bytes) -> int:
    """SQL-reproducible 60-bit stand-in hash for the synthetic catalog
    media (same portability trick as _portable_decoder: md5 of the
    uppercase hex so DuckDB's VARCHAR-only md5 computes the identical
    value). Pseudorandom per distinct content — identical blobs
    collide at hamming 0, everything else is ~30 bits apart — so it
    exercises the banding + hamming pipeline end to end; swap in
    dhash_image for real perceptual behavior."""
    import hashlib as _hl

    return int(_hl.md5(content.hex().upper().encode()).hexdigest()[:15], 16)


def media_phash(
    df: DataFrame,
    hasher: Callable[[bytes], int] = dhash_image,
) -> DataFrame:
    """Per-media 64-bit perceptual hash via Arrow mapInPandas — the
    narrow feature stage feeding visual near-dup dedup. The binary
    column never leaves this stage; downstream carries (id, long)."""
    import pandas as pd

    def _run(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        for pdf in batches:
            # Hashers return unsigned 0..2^64-1; fold into signed
            # two's complement so pandas doesn't infer uint64 (Arrow
            # raises casting values >= 2^63 to the declared long).
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"].values,
                    "phash": [
                        h - (1 << 64) if h >= (1 << 63) else h
                        for h in (hasher(b) for b in pdf["content"])
                    ],
                }
            )

    return _spread(df.select("media_id", "content")).mapInPandas(
        _run, schema="media_id long, phash long"
    )


def phash_neardup_pairs(
    phashes: DataFrame,
    bits: int = 64,
    bands: int = 4,
    max_hamming: int = 3,
) -> DataFrame:
    """Visual near-dup pairs from perceptual hashes: split each hash
    into ``bands`` equal bit-bands; candidates share at least one
    exact band (equality self-join — the SimHash/LSH banding trick,
    never all-pairs); verify with the exact popcount(xor) Hamming
    distance, keep pairs <= ``max_hamming``.

    Pigeonhole guarantee: hamming(a, b) <= bands - 1 implies a and b
    agree on >= 1 band, so recall is total for ``max_hamming <
    bands``; larger ``max_hamming`` trades recall like any LSH.

    Scale: band table is 4 rows/media; ONE shuffle on (band_idx,
    band_val); candidate volume is O(sum band-bucket^2) — identical
    skew profile to minhash_candidate_pairs, same salting applies if
    a degenerate band value (e.g. flat images) goes hot.
    """
    if bits % bands != 0:
        raise ValueError(f"bands={bands} must divide bits={bits}")
    bw = bits // bands
    mask = (1 << bw) - 1
    band_arr = F.array(
        *[
            F.struct(
                F.lit(b).alias("band_idx"),
                F.shiftright(F.col("phash"), b * bw)
                .bitwiseAND(F.lit(mask))
                .alias("band_val"),
            )
            for b in range(bands)
        ]
    )
    bt = phashes.select(
        F.col("media_id"), F.col("phash"), F.explode(band_arr).alias("_b")
    ).select(
        "media_id", "phash", F.col("_b.band_idx").alias("band_idx"),
        F.col("_b.band_val").alias("band_val"),
    )
    a, b = bt.alias("a"), bt.alias("b")
    ia, ib = F.col("a.media_id"), F.col("b.media_id")
    ham = F.bit_count(
        F.col("a.phash").bitwiseXOR(F.col("b.phash"))
    )
    return (
        a.join(
            b,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_val") == F.col("b.band_val"))
            & (ia < ib),
        )
        .select(ia.alias("id1"), ib.alias("id2"), ham.alias("hamming"))
        .distinct()
        .filter(F.col("hamming") <= max_hamming)
    )
