"""Multimodal operator tests: binary columns, format sniffing,
mapInPandas decode/resize/frame-sample/embed plumbing."""

import pytest
from pyspark.sql import functions as F

from ulh_etl_spark.operators.multimodal import (
    decode_media,
    embed_media,
    fake_decode_audio,
    fake_decode_image,
    fake_decode_video,
    media_metadata,
    real_decode_image,
    resize_images,
    sample_frames,
    sniff_format,
)

PNG = bytes([0x89]) + b"PNG\r\n" + b"x" * 100
JPEG = bytes([0xFF, 0xD8, 0xFF, 0xE0]) + b"y" * 50
WAV = b"RIFF" + b"z" * 200
JUNK = b"not-a-known-format"


@pytest.fixture()
def media(spark):
    return spark.createDataFrame(
        [(1, PNG), (2, JPEG), (3, WAV), (4, JUNK)],
        "media_id long, content binary",
    )


def test_sniff_format(spark, media):
    out = {r.media_id: r.fmt
           for r in media.select("media_id", sniff_format(F.col("content")).alias("fmt")).collect()}
    assert out == {1: "png", 2: "jpeg", 3: "riff", 4: "unknown"}


def test_media_metadata(spark, media):
    out = {r.media_id: r for r in media_metadata(media).collect()}
    assert out[1].size_bytes == len(PNG)
    assert out[1].format == "png"
    import hashlib
    assert out[4].content_md5 == hashlib.md5(JUNK).hexdigest()


def test_decode_media_batched(spark, media):
    out = {r.media_id: r for r in decode_media(
        media, fake_decode_image, "width int, height int, channels int"
    ).collect()}
    assert len(out) == 4
    expected = fake_decode_image(PNG)
    assert (out[1].width, out[1].height, out[1].channels) == (
        expected["width"], expected["height"], expected["channels"]
    )
    assert all(64 <= r.width <= 64 + 255 * 8 for r in out.values())
    assert all(1 <= r.channels <= 4 for r in out.values())


def test_fake_decoders_deterministic():
    assert fake_decode_image(PNG) == fake_decode_image(PNG)
    assert fake_decode_audio(WAV) == fake_decode_audio(WAV)
    v = fake_decode_video(JUNK)
    assert v["fps"] in (24.0, 25.0, 30.0, 60.0)


def test_real_decoder_gated():
    with pytest.raises(NotImplementedError):
        real_decode_image(PNG)


def test_resize_images(spark, media):
    out = {r.media_id: r for r in resize_images(media, 224, 224).collect()}
    assert all((r.width, r.height) == (224, 224) for r in out.values())
    assert bytes(out[1].content).startswith(b"RSZ:224x224:")
    # deterministic: same input -> same bytes
    again = {r.media_id: bytes(r.content)
             for r in resize_images(media, 224, 224).collect()}
    assert again[1] == bytes(out[1].content)


def test_sample_frames_rowcount(spark, media):
    frames = sample_frames(media, every_nth=30, max_frames=8)
    counts = {r.media_id: r["count"]
              for r in frames.groupBy("media_id").count().collect()}
    for mid, blob in [(1, PNG), (2, JPEG), (3, WAV), (4, JUNK)]:
        assert counts[mid] == min(8, max(1, len(blob) // 30))
    # frame bytes are 16-byte md5 digests, keyed by (content, idx)
    row = frames.filter("media_id = 3 AND frame_idx = 0").collect()[0]
    assert len(bytes(row.frame)) == 16


def test_embed_media_unit_norm(spark, media):
    out = embed_media(media, dim=8).collect()
    for r in out:
        assert len(r.embedding) == 8
        norm = sum(v * v for v in r.embedding) ** 0.5
        assert abs(norm - 1.0) < 1e-3


def test_kmeans_refine_iterates(spark):
    """Multi-iteration Lloyd refinement: centroids stay well-formed
    and assignments stabilize on an obviously separable corpus."""
    from ulh_etl_spark.operators.similarity import ivf_assign, kmeans_refine

    rows = [(i, [10.0 + (i % 3), 0.0]) for i in range(30)] + [
        (100 + i, [-10.0 - (i % 3), 1.0]) for i in range(30)
    ]
    corpus = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    seed = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [-1.0, 0.0])],
        "centroid_id int, centroid_vec array<double>",
    )
    refined = kmeans_refine(corpus, seed, iterations=3)
    cents = {r.centroid_id: r.centroid_vec for r in refined.collect()}
    assert len(cents) == 2
    xs = sorted(v[0] for v in cents.values())
    assert xs[0] < -9 and xs[1] > 9  # converged to the two blobs
    # all vectors assign cleanly to their blob's centroid
    assigned = ivf_assign(corpus, refined)
    clusters = {r.cell for r in assigned.filter("vec_id < 100").collect()}
    assert len(clusters) == 1


def test_png_roundtrip_pure_stdlib():
    """encode_png -> decode_png reconstructs the real pixels (not just
    the header): dimensions, channels, and mean pixel value."""
    from ulh_etl_spark.operators.multimodal import decode_png, encode_png

    w, h, c = 5, 4, 3
    pixels = bytes((x * 7 + 3) % 256 for x in range(w * h * c))
    png = encode_png(w, h, pixels, channels=c)
    meta = decode_png(png)
    assert (meta["width"], meta["height"], meta["channels"]) == (w, h, c)
    assert meta["mean_pixel"] == round(sum(pixels) / len(pixels), 6)


def test_png_decode_unfilters_up_filter():
    """Exercise a non-zero PNG filter type (Up): rows encoded as
    deltas must reconstruct to the constant pixel value."""
    import struct
    import zlib

    from ulh_etl_spark.operators.multimodal import decode_png

    w, h, v = 4, 3, 200
    def chunk(ctype, data):
        return (struct.pack(">I", len(data)) + ctype + data
                + struct.pack(">I", zlib.crc32(ctype + data) & 0xFFFFFFFF))

    # grayscale: first row filter 0 (raw), rest filter 2 (Up, all-zero deltas)
    raw = b"\x00" + bytes([v] * w) + (b"\x02" + bytes(w)) * (h - 1)
    png = (b"\x89PNG\r\n\x1a\n"
           + chunk(b"IHDR", struct.pack(">IIBBBBB", w, h, 8, 0, 0, 0, 0))
           + chunk(b"IDAT", zlib.compress(raw))
           + chunk(b"IEND", b""))
    meta = decode_png(png)
    assert (meta["width"], meta["height"], meta["channels"]) == (w, h, 1)
    assert meta["mean_pixel"] == float(v)


def test_png_decode_rejects_palette():
    """color_type 3 (palette): samples are PLTE indices, so a mean
    over them is silently wrong — decode_png must refuse, matching its
    documented contract, rather than 'decode' garbage."""
    import struct
    import zlib

    import pytest

    from ulh_etl_spark.operators.multimodal import decode_png

    def chunk(ctype, data):
        return (struct.pack(">I", len(data)) + ctype + data
                + struct.pack(">I", zlib.crc32(ctype + data) & 0xFFFFFFFF))

    w, h = 3, 2
    raw = (b"\x00" + bytes([0, 1, 2])) * h  # 1 byte/px palette indices
    png = (b"\x89PNG\r\n\x1a\n"
           + chunk(b"IHDR", struct.pack(">IIBBBBB", w, h, 8, 3, 0, 0, 0))
           + chunk(b"PLTE", bytes([255, 0, 0, 0, 255, 0, 0, 0, 255]))
           + chunk(b"IDAT", zlib.compress(raw))
           + chunk(b"IEND", b""))
    with pytest.raises(ValueError, match="color type 3"):
        decode_png(png)


def test_real_decode_image_through_mapinpandas(spark):
    """A REAL codec through the same decode_media mapInPandas stage
    the fake kernel uses — PIL when installed, stdlib PNG otherwise;
    this test needs no external library either way."""
    from ulh_etl_spark.operators.multimodal import (
        decode_media,
        encode_png,
        real_decode_image,
    )

    rows = []
    for i in range(6):
        w, h = 3 + i, 2 + i
        pixels = bytes((i * 31 + x) % 256 for x in range(w * h * 3))
        rows.append((i, encode_png(w, h, pixels, channels=3)))
    df = spark.createDataFrame(rows, "media_id long, content binary")
    out = {
        r["media_id"]: (r["width"], r["height"], r["channels"])
        for r in decode_media(
            df,
            real_decode_image,
            "width int, height int, channels int, mean_pixel double",
        ).collect()
    }
    assert out == {i: (3 + i, 2 + i, 3) for i in range(6)}


def test_real_decode_image_via_pil(spark):
    """Same stage with PIL explicitly exercised — skipped cleanly
    where PIL is not installed."""
    pytest.importorskip("PIL")
    import io

    from PIL import Image

    from ulh_etl_spark.operators.multimodal import decode_media, real_decode_image

    buf = io.BytesIO()
    Image.new("RGB", (8, 5), (10, 20, 30)).save(buf, format="PNG")
    df = spark.createDataFrame([(0, buf.getvalue())], "media_id long, content binary")
    r = decode_media(
        df, real_decode_image, "width int, height int, channels int, mean_pixel double"
    ).collect()[0]
    assert (r["width"], r["height"], r["channels"]) == (8, 5, 3)
    assert r["mean_pixel"] == 20.0


def test_ivf_index_write_prunes_partitions(spark, tmp_path):
    """The written IVF index must probe partition-pruned: the cell
    IN-list appears as a PartitionFilter and only the probed cells'
    directories are scanned — the C/nprobe scan-cost claim, proven at
    the file-listing level."""
    from ulh_etl_spark.operators.similarity import (
        ivf_assign,
        ivf_probe_pruned,
        ivf_topk,
        write_ivf_index,
    )
    from ulh_etl_spark.session import load_table

    sf = "/root/testdata/sf0.001"
    emb = load_table(spark, sf, "embeddings")
    cents = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("centroid_id"),
        F.col("embedding").alias("centroid_vec"),
    )
    assigned = ivf_assign(emb, cents)
    path = str(tmp_path / "ivf")
    write_ivf_index(assigned, path)

    queries = emb.filter(F.col("vec_id") < 3)
    pruned = ivf_probe_pruned(spark, path, cents, queries, k=5, nprobe=2)

    # 1. value parity with the in-memory probe
    mem = ivf_topk(assigned, cents, queries, k=5, nprobe=2)
    assert sorted(map(tuple, pruned.collect())) == sorted(map(tuple, mem.collect()))

    # 2. the cell IN-list lands in PartitionFilters (plan level) and
    # the executed scan touches ONLY the probed cells' directories
    from ulh_etl_spark.plans.inspect import formatted_plan

    probe_scan = spark.read.parquet(path).filter(F.col("cell").isin([0, 1]))
    plan = formatted_plan(probe_scan)
    assert "PartitionFilters" in plan and "cell" in plan
    touched = {
        r["f"]
        for r in probe_scan.select(
            F.input_file_name().alias("f")
        ).distinct().collect()
    }
    assert touched and all(
        "cell=0" in f or "cell=1" in f for f in touched
    ), touched
    all_files = spark.read.parquet(path).inputFiles()
    assert len(touched) < len(all_files)


# ------------------------------------------------- perceptual-hash dedup


def _pattern_png(w, h, noise=0, seed=7):
    """Deterministic smooth test image: a sin/cos brightness field
    sampled at any resolution — two renders of different sizes are the
    SAME underlying image, which is exactly what a perceptual hash
    must treat as near-identical."""
    import math
    import random

    from ulh_etl_spark.operators.multimodal import encode_png

    rnd = random.Random(seed)
    px = bytearray()
    for y in range(h):
        for x in range(w):
            u, t = x / w, y / h
            v = int(127.5 + 127.5 * math.sin(6.0 * u) * math.cos(4.0 * t))
            if noise:
                v = max(0, min(255, v + rnd.randint(-noise, noise)))
            px += bytes([v, v, v])
    return encode_png(w, h, bytes(px), channels=3)


def _hamming(a, b):
    return bin((a ^ b) & ((1 << 64) - 1)).count("1")


def test_dhash_golden_value():
    """Pin the exact bits: guards the vectorized numpy rewrite against
    the straight acc//area definition and platform drift."""
    from ulh_etl_spark.operators.multimodal import dhash_image

    assert dhash_image(_pattern_png(40, 32)) == 0x83838383837C7C7C


def test_dhash_identical_and_neardup():
    from ulh_etl_spark.operators.multimodal import dhash_image

    base = dhash_image(_pattern_png(40, 32))
    # identical bytes -> hamming 0
    assert _hamming(base, dhash_image(_pattern_png(40, 32))) == 0
    # same image rendered at 2x resolution -> within a few bits
    assert _hamming(base, dhash_image(_pattern_png(80, 64))) <= 4
    # mild per-pixel noise -> within a few bits
    assert _hamming(base, dhash_image(_pattern_png(40, 32, noise=6))) <= 4
    # a genuinely different image -> far away
    other = dhash_image(_pattern_png(40, 32, noise=120, seed=99))
    assert _hamming(base, other) > 8


def test_dhash_rejects_tiny_image():
    import pytest as _pt

    from ulh_etl_spark.operators.multimodal import dhash_image

    with _pt.raises(ValueError, match="smaller than hash grid"):
        dhash_image(_pattern_png(4, 4))


def test_dhash_pil_stdlib_parity():
    """Where PIL is installed, the PIL decode path must produce the
    same bits as the stdlib PNG path (both feed the identical integer
    box-mean grid)."""
    pytest.importorskip("PIL")
    from ulh_etl_spark.operators import multimodal as mm

    png = _pattern_png(40, 32)
    with_pil = mm.dhash_image(png)

    import builtins

    real_import = builtins.__import__

    def no_pil(name, *a, **k):
        if name == "PIL" or name.startswith("PIL."):
            raise ImportError(name)
        return real_import(name, *a, **k)

    builtins.__import__ = no_pil
    try:
        without_pil = mm.dhash_image(png)
    finally:
        builtins.__import__ = real_import
    assert _hamming(with_pil, without_pil) <= 2


def test_media_phash_bit63_roundtrip(spark):
    """An unsigned hash with bit 63 set must survive the Arrow 'long'
    schema as its two's-complement value (uint64 inference used to
    raise ArrowInvalid here)."""
    from ulh_etl_spark.operators.multimodal import media_phash

    df = spark.createDataFrame(
        [(1, b"a"), (2, b"b")], "media_id long, content binary"
    )
    out = {
        r.media_id: r.phash
        for r in media_phash(df, hasher=lambda b: (1 << 63) + b[0]).collect()
    }
    assert out == {
        1: (1 << 63) + ord("a") - (1 << 64),
        2: (1 << 63) + ord("b") - (1 << 64),
    }


def test_phash_neardup_pairs_model(spark):
    """Banded LSH + exact Hamming verify against a brute-force oracle
    computed in the test — valid because max_hamming=3 < bands=4 makes
    banded recall total (pigeonhole). Includes negative (bit-63)
    hashes, which the shiftright band split must handle."""
    from ulh_etl_spark.operators.multimodal import phash_neardup_pairs

    hashes = {
        1: 0,
        2: 7,                      # ham(1,2)=3
        3: -(1 << 63),             # bit 63 only; ham(1,3)=1
        4: -(1 << 63) + 6,         # bits 63,1,2
        5: 0x5555555555,           # far from everything
    }
    df = spark.createDataFrame(
        list(hashes.items()), "media_id long, phash long"
    )
    got = sorted(
        (r.id1, r.id2, r.hamming)
        for r in phash_neardup_pairs(df).collect()
    )
    expect = sorted(
        (i, j, _hamming(hashes[i], hashes[j]))
        for i in hashes
        for j in hashes
        if i < j and _hamming(hashes[i], hashes[j]) <= 3
    )
    assert got == expect and len(got) >= 4


def test_phash_pipeline_media_to_pairs(spark):
    """media -> media_phash (Arrow stage, real dhash) -> banded pairs:
    the same blob twice pairs at hamming 0; a different image stays
    unpaired."""
    from ulh_etl_spark.operators.multimodal import (
        dhash_image,
        media_phash,
        phash_neardup_pairs,
    )

    a = _pattern_png(40, 32)
    c = _pattern_png(40, 32, noise=120, seed=99)
    df = spark.createDataFrame(
        [(1, a), (2, a), (3, c)], "media_id long, content binary"
    )
    pairs = phash_neardup_pairs(media_phash(df, hasher=dhash_image)).collect()
    assert [(r.id1, r.id2, r.hamming) for r in pairs] == [(1, 2, 0)]


def test_hard_negatives_excludes_positives(spark):
    """The labeled positive is the geometric nearest neighbor — it
    must be excluded BEFORE ranking so rank 1 goes to the best true
    negative, and ranks stay dense."""
    from ulh_etl_spark.operators.similarity import hard_negatives

    rows = [
        (0, [1.0, 0.0]),
        (1, [0.999, 0.01]),   # positive for query 0 (closest)
        (2, [0.9, 0.1]),      # best hard negative
        (3, [0.5, 0.5]),
        (4, [-1.0, 0.0]),     # opposite
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    queries = emb.filter("vec_id = 0")
    pos = spark.createDataFrame([(0, 1)], "query_id long, pos_id long")
    out = [
        (r.query_id, r.neighbor_id, r.rank)
        for r in hard_negatives(emb, queries, pos, k=3)
        .orderBy("rank")
        .collect()
    ]
    assert out == [(0, 2, 1), (0, 3, 2), (0, 4, 3)]


def test_pq_encode_model(spark):
    """Hand-checkable PQ (4 dims, m=2 subspaces, ksub=2): seeds are
    ids 0/1 so the codebook per subspace is {code 0: [0,0], code 1:
    [1,1]}. v2's halves pick opposite codewords; v3 is exactly
    equidistant in both subspaces -> lowest-code tie-break (0)."""
    from ulh_etl_spark.operators.similarity import pq_codebook, pq_encode

    corpus = spark.createDataFrame(
        [
            (0, [0.0, 0.0, 0.0, 0.0]),
            (1, [1.0, 1.0, 1.0, 1.0]),
            (2, [0.9, 1.1, 0.1, -0.1]),
            (3, [0.5, 0.5, 0.5, 0.5]),
        ],
        "vec_id long, embedding array<float>",
    )
    cb = pq_codebook(corpus, dim=4, m=2, ksub=2)
    assert cb.count() == 4  # m * ksub
    out = {
        r.vec_id: (list(r.codes), r.recon_err)
        for r in pq_encode(corpus, cb).collect()
    }
    assert out[0] == ([0, 0], 0.0)
    assert out[1] == ([1, 1], 0.0)
    assert out[2][0] == [1, 0]
    assert abs(out[2][1] - 0.04) < 1e-6
    assert out[3][0] == [0, 0]  # equidistant -> lowest code
    assert abs(out[3][1] - 1.0) < 1e-6


def test_pq_adc_equals_distance_to_reconstruction(spark):
    """ADC's defining property: the ADC distance to a corpus row
    equals the exact squared L2 between the query and that row's
    RECONSTRUCTED (codeword-concatenated) vector."""
    from ulh_etl_spark.operators.similarity import (
        pq_adc_topk,
        pq_codebook,
        pq_encode,
    )

    corpus = spark.createDataFrame(
        [
            (0, [0.0, 0.0, 0.0, 0.0]),
            (1, [1.0, 1.0, 1.0, 1.0]),
            (2, [0.9, 1.1, 0.1, -0.1]),  # reconstructs to [1,1,0,0]
        ],
        "vec_id long, embedding array<float>",
    )
    cb = pq_codebook(corpus, dim=4, m=2, ksub=2)
    enc = pq_encode(corpus, cb)
    queries = spark.createDataFrame(
        [(7, [1.0, 1.0, 1.0, 1.0])], "vec_id long, embedding array<float>"
    )
    out = {
        r.vec_id: (r.adc_dist, r.rank)
        for r in pq_adc_topk(enc, cb, queries, k=3).collect()
    }
    # dist(q, recon): v1 -> [1,1,1,1]: 0; v2 -> [1,1,0,0]: 2; v0: 4
    assert out[1] == (0.0, 1)
    assert out[2] == (2.0, 2)
    assert out[0] == (4.0, 3)


def test_l2_topk_model(spark):
    from ulh_etl_spark.operators.similarity import l2_topk

    corpus = spark.createDataFrame(
        [(0, [0.0, 0.0]), (1, [3.0, 4.0]), (2, [1.0, 0.0])],
        "vec_id long, embedding array<float>",
    )
    queries = corpus.filter("vec_id = 0")
    out = [
        (r.vec_id, r.l2_sq, r.rank)
        for r in l2_topk(corpus, queries, k=3)
        .orderBy("rank")
        .collect()
    ]
    assert out == [(0, 0.0, 1), (2, 1.0, 2), (1, 25.0, 3)]


def test_pq_codebook_rejects_bad_args(spark):
    import pytest as _pytest

    from ulh_etl_spark.operators.similarity import pq_codebook

    df = spark.createDataFrame([(0, [0.0])], "vec_id long, embedding array<float>")
    with _pytest.raises(ValueError):
        pq_codebook(df, dim=5, m=2)
    with _pytest.raises(ValueError):
        pq_codebook(df, dim=4, m=2, ksub=1)


def test_frame_scene_changes_model(spark):
    """Hand-checkable scene detection: media 1 has a single cut
    (hash jumps 0b1111 at frame 60 = 4 bits > threshold 2), media 2
    is one flat shot (delta 1 bit each), media 3 is a single frame
    (no deltas -> 0 changes, NULL max)."""
    from ulh_etl_spark.operators.multimodal import frame_scene_changes

    rows = [
        (1, 0, 0b0000), (1, 30, 0b0001), (1, 60, 0b1110), (1, 90, 0b1111),
        (2, 0, 0b0000), (2, 30, 0b0001), (2, 60, 0b0000),
        (3, 0, 0b1010),
    ]
    df = spark.createDataFrame(
        rows, "media_id long, frame_idx int, phash long"
    )
    out = {
        r.media_id: (r.n_frames, r.n_scene_changes, r.max_frame_delta)
        for r in frame_scene_changes(df, threshold=2).collect()
    }
    # media 1: deltas 1, 4(0001->1110 flips all 4), 1 -> one change
    assert out[1] == (4, 1, 4)
    assert out[2] == (3, 0, 1)
    assert out[3] == (1, 0, None)


def test_ivfpq_equals_pq_adc_when_probing_all_cells(spark):
    """With nprobe = C the IVF pruning is a no-op, so IVF-PQ must
    reproduce plain ADC top-k exactly; with nprobe = 1 it returns a
    subset of the corpus (only the probed cell's members)."""
    import random

    from ulh_etl_spark.operators.similarity import (
        ivf_assign,
        ivfpq_adc_topk,
        pq_adc_topk,
        pq_codebook,
        pq_encode,
    )

    rng = random.Random(11)
    corpus = spark.createDataFrame(
        [(i, [rng.uniform(-1, 1) for _ in range(8)]) for i in range(40)],
        "vec_id long, embedding array<float>",
    )
    cents = corpus.filter("vec_id < 4").selectExpr(
        "vec_id AS centroid_id", "embedding AS centroid_vec"
    )
    cb = pq_codebook(corpus, dim=8, m=2, ksub=4)
    enc = pq_encode(corpus, cb).select("vec_id", "codes")
    enc_cells = ivf_assign(corpus, cents).select("vec_id", "cell").join(
        enc, "vec_id"
    )
    queries = corpus.filter("vec_id IN (5, 17)")

    def rows(df):
        return sorted(
            (r.query_id, r.vec_id, r.adc_dist, r.rank) for r in df.collect()
        )

    full = rows(pq_adc_topk(enc, cb, queries, k=5))
    all_cells = rows(
        ivfpq_adc_topk(enc_cells, cb, cents, queries, k=5, nprobe=4)
    )
    assert all_cells == full

    pruned = rows(
        ivfpq_adc_topk(enc_cells, cb, cents, queries, k=5, nprobe=1)
    )
    assert pruned
    # nprobe=1 results must come ONLY from each query's nearest cell
    from ulh_etl_spark.operators.similarity import ivf_assign_queries

    q_cell = {
        r.query_id: r.cell
        for r in ivf_assign_queries(queries, cents, nprobe=1).collect()
    }
    members = {
        c: {r.vec_id for r in rows_df.collect()}
        for c, rows_df in (
            (c, enc_cells.filter(F.col("cell") == c))
            for c in set(q_cell.values())
        )
    }
    for qid, vid, _, _ in pruned:
        assert vid in members[q_cell[qid]], (qid, vid)


def test_multiprobe_recall_dominates_single_probe(spark):
    """Multi-probe's defining property: its candidate set is a
    SUPERSET of single-probe's (flip set includes 0 = the exact
    key), so recall can only go up."""
    import random

    from ulh_etl_spark.operators.similarity import (
        hyperplane_candidate_pairs,
        hyperplane_multiprobe_topk,
    )

    rng = random.Random(13)
    corpus = spark.createDataFrame(
        [(i, [rng.uniform(-1, 1) for _ in range(16)]) for i in range(60)],
        "vec_id long, embedding array<float>",
    )
    queries = corpus.filter("vec_id < 3")
    mp = hyperplane_multiprobe_topk(
        corpus, queries, 16, num_planes=16, rows_per_band=8, k=60
    )
    mp_pairs = {(r.query_id, r.neighbor_id) for r in mp.collect()}
    sp = hyperplane_candidate_pairs(
        corpus, 16, num_planes=16, rows_per_band=8
    )
    sp_pairs = set()
    for r in sp.collect():
        if r.id1 < 3:
            sp_pairs.add((r.id1, r.id2))
        if r.id2 < 3:
            sp_pairs.add((r.id2, r.id1))
    assert sp_pairs <= mp_pairs, sp_pairs - mp_pairs
    assert len(mp_pairs) > len(sp_pairs)  # probes found extras here


def test_kcenter_coreset_model(spark):
    """Exact greedy parity on a hand-built 1-D layout: seed is the
    lowest id; each subsequent pick is the farthest from the chosen
    set; the radius sequence is non-increasing after step 1."""
    from ulh_etl_spark.operators.similarity import kcenter_coreset

    # positions on a line: 0, 1, 10, 20 (ids 0..3)
    rows = [(0, [0.0]), (1, [1.0]), (2, [10.0]), (3, [20.0])]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = [
        (r.step, r.vec_id, r.dist_when_chosen)
        for r in kcenter_coreset(df, k=4).orderBy("step").collect()
    ]
    # greedy from id 0: farthest is 3 (400), then 2 (min(100, 100) =
    # 100), then 1 (min(1, 81, 361) = 1)
    assert out[0] == (0, 0, None)
    assert out[1] == (1, 3, 400.0)
    assert out[2] == (2, 2, 100.0)
    assert out[3] == (3, 1, 1.0)

    import pytest as _pytest

    with _pytest.raises(ValueError):
        kcenter_coreset(df, k=0)


def test_kcenter_coreset_exhaustion_and_duplicates(spark):
    """k larger than the distinct-vector count: every id is chosen
    exactly once, then selection stops — duplicates (zero remaining
    distance everywhere) must not be re-picked."""
    from ulh_etl_spark.operators.similarity import kcenter_coreset

    rows = [(0, [0.0]), (1, [0.0]), (2, [5.0])]  # ids 0/1 identical
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = [
        (r.step, r.vec_id)
        for r in kcenter_coreset(df, k=10).orderBy("step").collect()
    ]
    assert [v for _, v in out] == [0, 2, 1]  # each id once, then stop
    assert len(out) == 3


def _recompress_png(png: bytes, level: int) -> bytes:
    """Re-deflate a PNG's IDAT stream at a different zlib level —
    byte-different file, pixel-identical image (the PNG analogue of
    'recompressed variant' a JPEG re-save would produce)."""
    import struct
    import zlib

    out = bytearray(png[:8])
    pos, idat = 8, b""
    chunks = []
    while pos < len(png):
        (length,) = struct.unpack(">I", png[pos : pos + 4])
        ctype = png[pos + 4 : pos + 8]
        data = png[pos + 8 : pos + 8 + length]
        pos += 12 + length
        if ctype == b"IDAT":
            idat += data
        else:
            chunks.append((ctype, data))
    raw = zlib.decompress(idat)
    redone = zlib.compress(raw, level)
    for ctype, data in chunks:
        if ctype == b"IEND":
            crc = zlib.crc32(b"IDAT" + redone) & 0xFFFFFFFF
            out += struct.pack(">I", len(redone)) + b"IDAT" + redone
            out += struct.pack(">I", crc)
        body = struct.pack(">I", len(data)) + ctype + data
        body += struct.pack(">I", zlib.crc32(ctype + data) & 0xFFFFFFFF)
        out += body
    return bytes(out)


def test_phash_pipeline_on_recompressed_real_images(spark):
    """VERDICT r7 #7 (real-codec leg, PIL-free): REAL PNG files —
    same image recompressed at a different zlib level (different
    bytes, identical pixels), a lightly noised re-render, and an
    unrelated image — through the FULL q103 pipeline (stdlib PNG
    decode inside media_phash -> banded LSH -> exact Hamming).
    Recompression must hash identically (distance 0), the noised
    variant must pair as a near-dup, the unrelated image must not."""
    from ulh_etl_spark.operators.multimodal import (
        media_phash,
        phash_neardup_pairs,
    )

    base = _pattern_png(64, 48)
    recomp = _recompress_png(base, level=1)
    assert recomp != base  # genuinely different bytes on disk
    noised = _pattern_png(64, 48, noise=12, seed=7)
    # the unrelated image: the inverted pattern (seed only drives
    # noise in _pattern_png, so a different seed alone is identical)
    from ulh_etl_spark.operators.multimodal import decode_png, encode_png

    d = decode_png(base, keep_pixels=True)
    inv = bytes(255 - b for b in d["pixels"])
    other = encode_png(d["width"], d["height"], inv, channels=3)

    df = spark.createDataFrame(
        [(1, base), (2, recomp), (3, noised), (4, other)],
        "media_id long, content binary",
    )
    hashes = media_phash(df)
    pairs = {
        (r.id1, r.id2): r.hamming
        for r in phash_neardup_pairs(hashes, max_hamming=3).collect()
    }
    assert pairs.get((1, 2)) == 0, pairs  # recompression: exact hash
    assert (1, 3) in pairs and pairs[(1, 3)] <= 3  # noised: near-dup
    assert not any(4 in p for p in pairs), pairs  # unrelated: no pair


def test_random_projection_jl_property(spark):
    """JL with ±1 Rademacher signs: scaled reduced-space squared
    distances approximate the originals (loose 0.4-2.5x band at
    out_dim=16 — the guarantee is (1±eps) in expectation, this pins
    gross sanity not tight bounds), the matrix is deterministic, and
    the projection of a zero vector is zero."""
    import math
    import random

    from ulh_etl_spark.operators.similarity import random_projection, rp_signs

    assert rp_signs(4, 8) == rp_signs(4, 8)  # deterministic
    assert all(s in (1.0, -1.0) for row in rp_signs(4, 8) for s in row)

    rnd = random.Random(99)
    dim, out_dim = 64, 16
    vecs = [
        [rnd.gauss(0, 1) for _ in range(dim)] for _ in range(6)
    ] + [[0.0] * dim]
    df = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(vecs)],
        "vec_id long, embedding array<float>",
    )
    out = {
        r.vec_id: [r[f"r{k:02d}"] for k in range(out_dim)]
        for r in random_projection(df, dim, out_dim).collect()
    }
    assert all(abs(x) < 1e-9 for x in out[6])  # zero maps to zero
    # E[(Rx)_k^2] = ||x||^2 for a ±1 row, so ||Rx||^2 / out_dim
    # estimates ||x||^2
    for a in range(3):
        for b in range(a + 1, 6):
            orig = sum((x - y) ** 2 for x, y in zip(vecs[a], vecs[b]))
            red = sum(
                (x - y) ** 2 for x, y in zip(out[a], out[b])
            ) / out_dim
            ratio = red / max(orig, 1e-12)
            assert 0.3 < ratio < 3.0, (a, b, ratio)


def test_wav_roundtrip_and_energy_fingerprint():
    """Real RIFF/PCM16 round-trip (stdlib wave both directions) and
    the energy-envelope fingerprint: the loud/quiet frame pattern is
    recovered from the DECODED bytes; non-16-bit widths refuse; a
    lightly-noised re-render keeps the same fingerprint."""
    import io
    import random
    import wave

    import pytest

    from ulh_etl_spark.operators.multimodal import (
        audio_energy_fingerprint,
        decode_wav_pcm16,
        encode_wav_pcm16,
    )

    # envelope bits 0b1010_0110_0101_1001 -> loud frames where set
    bits = 0b1010011001011001
    samples = []
    for i in range(16):
        amp = 20000 if (bits >> i) & 1 else 0
        samples.extend([amp, -amp] * 25)
    blob = encode_wav_pcm16(samples, sample_rate=8000)
    d = decode_wav_pcm16(blob)
    assert (d["sample_rate"], d["n_channels"], d["n_samples"]) == (
        8000, 1, 800,
    )
    assert d["samples"] == samples  # exact PCM round-trip
    assert audio_energy_fingerprint(blob, n_bits=16) == bits

    # additive noise well under the threshold: fingerprint unchanged
    rnd = random.Random(5)
    noisy = [s + rnd.randint(-500, 500) for s in samples]
    assert audio_energy_fingerprint(encode_wav_pcm16(noisy), n_bits=16) == bits

    # wide envelope (q147's width): a 60-bit pattern round-trips —
    # the regression for the saturated 16-bit space is that widths
    # past 32 bits survive the encode/decode/threshold chain exactly
    wide = (0x0BADC0FFEE15BAD5 >> 4) | 1 | (1 << 59)  # ends set, 60b
    wsamples = []
    for i in range(60):
        amp = 20000 if (wide >> i) & 1 else 0
        wsamples.extend([amp, -amp] * 25)
    assert (
        audio_energy_fingerprint(encode_wav_pcm16(wsamples), n_bits=60)
        == wide
    )

    # 8-bit samples must refuse (decode_png's palette rule)
    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(1)
        w.setsampwidth(1)
        w.setframerate(8000)
        w.writeframes(bytes(100))
    with pytest.raises(ValueError, match="sample width"):
        decode_wav_pcm16(buf.getvalue())

    # empty stream: fingerprint 0, no crash
    assert audio_energy_fingerprint(encode_wav_pcm16([])) == 0


def test_audio_fingerprint_default_width_is_sign_safe():
    """r10 ADVICE pin: default n_bits=60 (the widest width that fits
    a signed LongType phash column); widths past 63 refuse."""
    import inspect

    import pytest

    from ulh_etl_spark.operators.multimodal import (
        audio_energy_fingerprint,
        encode_wav_pcm16,
    )

    sig = inspect.signature(audio_energy_fingerprint)
    assert sig.parameters["n_bits"].default == 60
    loud = [20000, -20000] * (25 * 64)
    blob = encode_wav_pcm16(loud)
    fp = audio_energy_fingerprint(blob)  # all frames loud -> all bits
    assert fp == (1 << 60) - 1
    assert 0 <= fp < 2**63
    with pytest.raises(ValueError, match="overflow"):
        audio_energy_fingerprint(blob, n_bits=64)
