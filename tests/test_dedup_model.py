"""Model-based tests for the dedup/text hashing primitives: a pure
python re-implementation (the semantics spec) checked against the
Spark expressions on hypothesis-generated corpora — correctness
independent of the DuckDB oracle."""

import hashlib
import re

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from ulh_etl_spark.operators.dedup import (
    MINHASH_A,
    MINHASH_B,
    minhash_signatures,
    simhash_table,
)
from ulh_etl_spark.operators.text import MERSENNE31, char_ngrams, md5_hash32

TEXT = st.text(
    alphabet=st.characters(min_codepoint=32, max_codepoint=126),
    min_size=0, max_size=60,
)


# ------------------------------------------------------ python models


def py_md5_hash32(s: str) -> int:
    return int(hashlib.md5(s.encode()).hexdigest()[:8], 16)


def py_char_ngrams(s: str, n: int) -> list:
    return [s[i:i + n] for i in range(max(len(s) - n + 1, 1))]


def py_minhash(s: str, j: int, n: int = 4) -> int:
    hs = {py_md5_hash32(g) for g in py_char_ngrams(s, n)}
    return min((MINHASH_A[j] * h + MINHASH_B[j]) % MERSENNE31 for h in hs)


def py_simhash(s: str, bits: int = 16) -> int:
    toks = [t for t in re.split(r"\s+", s) if t != ""]
    if not toks:
        # token-less docs keep a row with all bits unset (oracle:
        # NULL per-bit sum -> bit 0; engine: explode_outer null row)
        return 0
    acc = 0
    for b in range(bits):
        contrib = sum(
            1 if (py_md5_hash32(t) >> b) & 1 else -1 for t in toks
        )
        if contrib > 0:
            acc |= 1 << b
    return acc


# ----------------------------------------------------------- checks


@settings(max_examples=10, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(st.lists(TEXT.filter(lambda s: s != ""), min_size=1, max_size=15))
def test_md5_hash32_matches_model(spark, texts):
    df = spark.createDataFrame([(t,) for t in texts], "t string")
    got = [r.h for r in df.select(md5_hash32(F.col("t")).alias("h")).collect()]
    assert got == [py_md5_hash32(t) for t in texts]


@settings(max_examples=10, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(st.lists(TEXT, min_size=1, max_size=15), st.integers(2, 5))
def test_char_ngrams_matches_model(spark, texts, n):
    df = spark.createDataFrame([(t,) for t in texts], "t string")
    got = [r.g for r in df.select(char_ngrams(F.col("t"), n).alias("g")).collect()]
    assert got == [py_char_ngrams(t, n) for t in texts]


@settings(max_examples=6, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(st.lists(TEXT.filter(lambda s: len(s) >= 1), min_size=1, max_size=10,
                unique=True))
def test_minhash_signatures_match_model(spark, texts):
    df = spark.createDataFrame(list(enumerate(texts)), "doc_id long, text string")
    out = {r.doc_id: r for r in
           minhash_signatures(df, "text", "doc_id", num_hashes=4).collect()}
    for i, t in enumerate(texts):
        for j in range(4):
            assert out[i][f"mh_{j}"] == py_minhash(t, j), (t, j)


@settings(max_examples=6, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(st.lists(TEXT, min_size=1, max_size=10, unique=True))
def test_simhash_matches_model(spark, texts):
    df = spark.createDataFrame(list(enumerate(texts)), "doc_id long, text string")
    out = {r.doc_id: r.simhash16 for r in
           simhash_table(df, "text", "doc_id", bits=16).collect()}
    assert len(out) == len(texts)  # no doc silently dropped
    for i, t in enumerate(texts):
        assert out[i] == py_simhash(t), t


def test_connected_components_model(spark):
    """Chain, triangle, and 2-cycle: every node gets the min id of
    its component; transitive chains collapse (the thing the
    single-pass keep-lowest rule cannot do)."""
    from ulh_etl_spark.operators.dedup import connected_components

    pairs = spark.createDataFrame(
        [
            (1, 2), (2, 3), (3, 4),  # chain: all -> 1
            (10, 11), (11, 12), (10, 12),  # triangle: all -> 10
            (20, 21),  # pair
        ],
        "id1 long, id2 long",
    )
    out = {
        r["node"]: r["component"]
        for r in connected_components(pairs).collect()
    }
    assert out == {
        1: 1, 2: 1, 3: 1, 4: 1,
        10: 10, 11: 10, 12: 10,
        20: 20, 21: 20,
    }


def test_connected_components_long_chain_converges(spark):
    """A 12-edge chain needs diameter-many min-propagation rounds;
    the fixpoint loop must get there without lineage blowup."""
    from ulh_etl_spark.operators.dedup import connected_components

    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(100, 112)], "id1 long, id2 long"
    )
    out = {
        r["node"]: r["component"]
        for r in connected_components(pairs).collect()
    }
    assert set(out.values()) == {100}
    assert len(out) == 13


def test_cap_per_group_matches_single_window(spark):
    """Two-phase salted cap == single-window rank, including on a
    pathologically hot group (the case the salt exists for)."""
    from pyspark.sql import Window

    from ulh_etl_spark.operators.text import cap_per_group

    rows = [(i, "hot") for i in range(500)] + [(1000 + i, f"g{i % 3}") for i in range(30)]
    df = spark.createDataFrame(rows, "doc_id long, source string")

    got = {
        (r.doc_id, r.source, r.cap_rank)
        for r in cap_per_group(df, "source", "doc_id", 7, salt_buckets=4).collect()
    }
    key = F.md5(F.concat_ws("|", F.lit("cap"), F.col("doc_id").cast("string")))
    w = Window.partitionBy("source").orderBy(key, "doc_id")
    want = {
        (r.doc_id, r.source, r.cap_rank)
        for r in df.withColumn("cap_rank", F.row_number().over(w))
        .filter(F.col("cap_rank") <= 7)
        .collect()
    }
    assert got == want
    assert sum(1 for _, s, _ in got if s == "hot") == 7


def test_cross_group_gram_overlap_model(spark):
    """Hand-checkable overlap matrix: shared distinct gram hashes per
    group pair, each gram counted once regardless of how many docs
    carry it."""
    from ulh_etl_spark.operators.dedup import cross_group_gram_overlap

    df = spark.createDataFrame(
        [
            (1, "aaaabbbb", "A"),
            (2, "bbbbcccc", "B"),
            (3, "aaaacccc", "C"),
            (4, "aaaabbbb", "B"),  # duplicates doc 1's grams into B
        ],
        "doc_id long, text string, source string",
    )
    out = {
        (r.src_a, r.src_b): r.shared_grams
        for r in cross_group_gram_overlap(df, "text", "source", n=4).collect()
    }
    # 4-grams of "aaaabbbb": aaaa,aaab,aabb,abbb,bbbb (5 distinct)
    # A∩B: doc4 == doc1 -> all 5 shared. B∩C: {bbbb..}∩{aaaa..}: doc2
    # grams {bbbb,bbbc,bbcc,bccc,cccc} + doc4's 5; vs C {aaaa,aaac,
    # aacc,accc,cccc}: shared = {cccc, aaaa, aaab? no} -> cccc from
    # doc2, aaaa from doc4 -> 2. A∩C: {aaaa}: 1.
    assert out == {("A", "B"): 5, ("B", "C"): 2, ("A", "C"): 1}

    # The high-cardinality fallback (mask wider than max_mask_groups
    # -> distinct-pair self-join) must agree with the bitmask path.
    fb = {
        (r.src_a, r.src_b): r.shared_grams
        for r in cross_group_gram_overlap(
            df, "text", "source", n=4, max_mask_groups=2
        ).collect()
    }
    assert fb == out


def test_connected_components_reliable_checkpoint(
    spark, tmp_path, monkeypatch
):
    """$SPARK_GRAFT_CHECKPOINT_DIR set: identical labels, and the
    rounds actually checkpoint RELIABLY (files appear under the
    directory) — the cluster-scale path where a lost executor must
    not abort the iteration."""
    import os

    from ulh_etl_spark.operators.dedup import connected_components

    ckpt = str(tmp_path / "ckpt")
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11)], "id1 long, id2 long"
    )
    monkeypatch.setenv("SPARK_GRAFT_CHECKPOINT_DIR", ckpt)
    out = {
        r["node"]: r["component"]
        for r in connected_components(pairs).collect()
    }
    assert out == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10}
    found = [f for _root, _d, files in os.walk(ckpt) for f in files]
    assert found, "no reliable checkpoint files were written"


def test_simhash_keeps_tokenless_docs(spark):
    """Empty / whitespace-only / null texts must not vanish from the
    signature table, and must land at simhash 0."""
    df = spark.createDataFrame(
        [(0, "real tokens here"), (1, ""), (2, "   \t  "), (3, None)],
        "doc_id long, text string",
    )
    out = {r.doc_id: r.simhash16
           for r in simhash_table(df, "text", "doc_id", bits=16).collect()}
    assert set(out) == {0, 1, 2, 3}
    assert out[1] == 0 and out[2] == 0 and out[3] == 0
    assert out[0] == py_simhash("real tokens here")


def test_connected_components_raises_when_not_converged(spark):
    """Exhausting max_iter before the fixpoint must raise, never
    silently return split clusters."""
    import pytest

    from ulh_etl_spark.operators.dedup import connected_components

    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(200, 210)], "id1 long, id2 long"
    )
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(chain, max_iter=3)


def test_lsh_contamination_flags_near_duplicate(spark):
    from ulh_etl_spark.operators.dedup import lsh_contamination

    base = "the quick brown fox jumps over the lazy dog again and again"
    bench = spark.createDataFrame(
        [(100, base)], "doc_id long, text string"
    )
    corpus = spark.createDataFrame(
        [
            (1, base),                                   # exact copy
            (2, base.replace("lazy", "sleepy")),         # near dup
            (3, "completely different content about spark plans"),
        ],
        "doc_id long, text string",
    )
    out = {
        r["doc_id"]: r["n_bands"]
        for r in lsh_contamination(
            corpus, bench, "text", "doc_id", rows_per_band=2
        ).collect()
    }
    assert out.get(1, 0) >= 1          # identical doc always collides
    assert 3 not in out                # unrelated doc stays clean
    for n in out.values():             # n_bands bounded by band count
        assert 1 <= n <= 4


def test_lsh_bands_rejects_non_divisor_rows_per_band(spark):
    """rows_per_band that doesn't divide num_hashes silently dropped
    trailing hashes; > num_hashes made LSH a zero-band no-op — both
    must raise instead (ADVICE r4)."""
    import pytest

    from ulh_etl_spark.operators.dedup import lsh_bands, minhash_signatures

    df = spark.createDataFrame([(0, "a b c")], "doc_id long, text string")
    sigs = minhash_signatures(df, "text", "doc_id", num_hashes=8)
    for bad in (3, 9, 0, -1):
        with pytest.raises(ValueError, match="divisor"):
            lsh_bands(sigs, "doc_id", num_hashes=8, rows_per_band=bad)


def test_semantic_dedup_model(spark):
    """Hand-checkable SemDeDup: two clusters; in cluster A, vectors 1
    and 3 are identical (cos=1) so 3 drops and 1 survives; vector 10
    is the min-id exemplar of cluster B's identical pair (10, 11);
    vector 5 sits in cluster A but nearly orthogonal to everything ->
    kept. Chain rule: 3 also similar to nothing else, no transitive
    surprises."""
    from ulh_etl_spark.operators.similarity import semantic_dedup

    emb = spark.createDataFrame(
        [
            (1, [1.0, 0.0, 0.0]),
            (3, [1.0, 0.0, 0.0]),     # dup of 1 -> dropped
            (5, [0.9, 0.1, 0.0]),     # same cell as 1, cos ~0.994
            (10, [0.0, 1.0, 0.0]),
            (11, [0.0, 1.0, 0.0]),    # dup of 10 -> dropped
        ],
        "vec_id long, embedding array<double>",
    )
    cents = spark.createDataFrame(
        [(0, [1.0, 0.0, 0.0]), (1, [0.0, 1.0, 0.0])],
        "centroid_id int, centroid_vec array<double>",
    )
    out = {
        r.vec_id: (r.cell, r.kept)
        for r in semantic_dedup(emb, cents, threshold=0.995).collect()
    }
    assert out == {
        1: (0, True),
        3: (0, False),
        5: (0, True),   # cos(1,5) ~ 0.993884 < 0.995 -> survives
        10: (1, True),
        11: (1, False),
    }


def test_collapse_neardup_best_model(spark):
    """Keep-best collapse: component 1 = {1,2,3} with 2 highest
    quality -> keep 2; component 10 = {10,11} tied quality -> lowest
    id 10 wins."""
    from ulh_etl_spark.operators.dedup import collapse_neardup_best

    labels = spark.createDataFrame(
        [(1, 1), (2, 1), (3, 1), (10, 10), (11, 10)],
        "node long, component long",
    )
    scored = spark.createDataFrame(
        [(1, 0.5), (2, 0.9), (3, 0.7), (10, 0.4), (11, 0.4), (99, 1.0)],
        "doc_id long, quality double",
    )
    out = {
        r.component: (r.keep_id, r.best_quality, r.n_members)
        for r in collapse_neardup_best(labels, scored).collect()
    }
    assert out == {1: (2, 0.9, 3), 10: (10, 0.4, 2)}


def test_cross_group_overlap_64_group_boundary(spark):
    """Exactly 64 groups — the bitmask path's own default cap: bit 63
    must be encoded as its two's-complement long (F.lit(1 << 63) used
    to overflow), and a planted overlap involving the 64th group must
    survive the mask round-trip."""
    from ulh_etl_spark.operators.dedup import cross_group_gram_overlap

    rows = [(i, f"unique-{i:04d}-text", f"g{i:02d}") for i in range(62)]
    # g62 and g63 (bits 62 and 63) share one doc's grams
    rows += [(100, "sharedgramrun", "g62"), (101, "sharedgramrun", "g63")]
    df = spark.createDataFrame(rows, "doc_id long, text string, source string")
    out = {
        (r.src_a, r.src_b): r.shared_grams
        for r in cross_group_gram_overlap(
            df, "text", "source", n=8, max_mask_groups=64
        ).collect()
    }
    # "sharedgramrun" has 13-8+1 = 6 distinct 8-grams
    assert out[("g62", "g63")] == 6
    assert all(v > 0 for v in out.values())
    # and the fallback path agrees on the planted pair
    fb = {
        (r.src_a, r.src_b): r.shared_grams
        for r in cross_group_gram_overlap(
            df, "text", "source", n=8, max_mask_groups=8
        ).collect()
    }
    assert fb == out


def test_cross_group_overlap_null_group(spark):
    """NULL-group rows carry no bit (mask 0) and drop out of the pair
    matrix — the collect_set-era semantics on dirty data; the group
    inventory must not TypeError sorting None against str."""
    from ulh_etl_spark.operators.dedup import cross_group_gram_overlap

    df = spark.createDataFrame(
        [
            (1, "aaaabbbb", "A"),
            (2, "aaaabbbb", "B"),
            (3, "aaaabbbb", None),
        ],
        "doc_id long, text string, source string",
    )
    out = {
        (r.src_a, r.src_b): r.shared_grams
        for r in cross_group_gram_overlap(df, "text", "source", n=4).collect()
    }
    assert out == {("A", "B"): 5}


def test_incremental_dedup_model(spark):
    """Hand-checkable: within-batch dups collapse to min id with a
    count; anything whose fingerprint is already in the store drops;
    normalization means case/punctuation variants share a
    fingerprint."""
    from ulh_etl_spark.operators.dedup import fingerprint, incremental_dedup

    new = spark.createDataFrame(
        [
            (11, "Hello, World"),
            (13, "hello world"),     # same normalized fp as 11
            (15, "already ingested"),
            (17, "brand new text"),
        ],
        "doc_id long, text string",
    )
    seen = spark.createDataFrame(
        [("already ingested",), ("some old doc",)], "text string"
    ).select(fingerprint(F.col("text")).alias("fp"))
    out = {
        r.doc_id: r.batch_dups
        for r in incremental_dedup(new, seen, "text", "doc_id").collect()
    }
    assert out == {11: 2, 17: 1}


def test_minhash_estimate_model(spark):
    """Identical docs -> estimate 1.0 == exact 1.0 (err 0); near-dups
    -> estimate within the sketch's resolution (multiples of 1/8) of
    the exact Jaccard, and both bounded to [0, 1]."""
    from ulh_etl_spark.operators.dedup import minhash_estimate_pairs

    base = "the quick brown fox jumps over the lazy dog again and again"
    df = spark.createDataFrame(
        [
            (1, base),
            (2, base),                      # identical
            (3, base + " with a new tail"),  # near-dup
            (4, "completely different text about spark engines"),
        ],
        "doc_id long, text string",
    )
    rows = {
        (r.id1, r.id2): r
        for r in minhash_estimate_pairs(df, "text", "doc_id").collect()
    }
    exact_pair = rows[(1, 2)]
    assert exact_pair.jaccard_est == 1.0
    assert exact_pair.jaccard_exact == 1.0
    assert exact_pair.abs_err == 0.0
    for r in rows.values():
        assert 0.0 <= r.jaccard_est <= 1.0
        assert 0.0 <= r.jaccard_exact <= 1.0
        assert abs(r.jaccard_est * 8 - round(r.jaccard_est * 8)) < 1e-9
        assert r.abs_err == round(abs(r.jaccard_est - r.jaccard_exact), 6)


def test_minhash_estimate_sampled_parity(spark):
    """sample_mod=K output must be EXACTLY the full audit restricted
    to pairs whose BOTH endpoints satisfy md5_60bit(id) % K == 0 —
    the deterministic endpoint-sample contract q109 and its DuckDB
    oracle share (r9-verdict item 3). Also: K=1 keeps everything."""
    import hashlib

    from ulh_etl_spark.operators.dedup import minhash_estimate_pairs

    base = "the quick brown fox jumps over the lazy dog again and again"
    df = spark.createDataFrame(
        [(i, base + f" tail {i % 3}") for i in range(1, 13)],
        "doc_id long, text string",
    )
    full = {
        (r.id1, r.id2): (r.jaccard_est, r.jaccard_exact, r.abs_err)
        for r in minhash_estimate_pairs(df, "text", "doc_id").collect()
    }
    assert len(full) > 4  # fixture actually produces candidate pairs

    K = 2

    def kept(i):
        h = hashlib.md5(str(i).encode()).hexdigest()
        return int(h[:15], 16) % K == 0

    sampled = {
        (r.id1, r.id2): (r.jaccard_est, r.jaccard_exact, r.abs_err)
        for r in minhash_estimate_pairs(
            df, "text", "doc_id", sample_mod=K
        ).collect()
    }
    want = {p: v for p, v in full.items() if kept(p[0]) and kept(p[1])}
    assert sampled == want
    assert 0 < len(sampled) < len(full)  # K=2 actually splits

    everything = {
        (r.id1, r.id2): (r.jaccard_est, r.jaccard_exact, r.abs_err)
        for r in minhash_estimate_pairs(
            df, "text", "doc_id", sample_mod=1
        ).collect()
    }
    assert everything == full


def test_levenshtein_link_pairs_model(spark):
    """Blocking prevents cross-block pairs even at distance 0; within
    a block only pairs within max_distance survive."""
    import pytest as _pytest

    from ulh_etl_spark.operators.dedup import levenshtein_link_pairs

    rows = [
        (1, "smith", "A"),
        (2, "smyth", "A"),   # distance 1 from smith
        (3, "jones", "A"),   # far from both
        (4, "smith", "B"),   # identical text, different block
    ]
    df = spark.createDataFrame(rows, "id long, name string, blk string")
    out = {
        (r.id1, r.id2): r.distance
        for r in levenshtein_link_pairs(
            df, "id", "name", "blk", max_distance=1
        ).collect()
    }
    assert out == {(1, 2): 1}

    with _pytest.raises(ValueError):
        levenshtein_link_pairs(df, "id", "name", "blk", max_distance=-1)


def test_corpus_diff_model(spark):
    """All four statuses on a hand-built pair of versions; content
    normalization means a case/punct-only edit is 'unchanged'."""
    from ulh_etl_spark.operators.dedup import corpus_diff

    old = spark.createDataFrame(
        [(1, "alpha beta"), (2, "gone now"), (3, "same text"),
         (4, "will change")],
        "doc_id long, text string",
    )
    new = spark.createDataFrame(
        [(1, "ALPHA, beta!"), (3, "same text"), (4, "has changed"),
         (5, "brand new")],
        "doc_id long, text string",
    )
    out = {
        r.doc_id: r.status
        for r in corpus_diff(old, new, "text", "doc_id").collect()
    }
    assert out == {
        1: "unchanged",  # normalization strips case/punct
        2: "removed",
        3: "unchanged",
        4: "changed",
        5: "added",
    }


def test_star_edges_same_components_as_pairs(spark):
    """minhash_star_edges must yield EXACTLY the same connected
    components as the full C(B,2) pair enumeration — a star spans
    the bucket clique — while emitting far fewer edges. Checked on
    the real synthetic corpus slice (planted boilerplate families)."""
    from ulh_etl_spark.operators.dedup import (
        connected_components,
        minhash_candidate_pairs,
        minhash_star_edges,
    )
    from ulh_etl_spark.session import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    kw = dict(num_hashes=8, rows_per_band=4, shingle_n=4)
    pairs = minhash_candidate_pairs(docs, "text", "doc_id", **kw)
    stars = minhash_star_edges(docs, "text", "doc_id", **kw)
    n_pairs, n_stars = pairs.count(), stars.count()
    assert n_stars <= n_pairs
    via_pairs = {
        (r.node, r.component) for r in connected_components(pairs).collect()
    }
    via_stars = {
        (r.node, r.component) for r in connected_components(stars).collect()
    }
    assert via_stars == via_pairs and via_pairs
    # star ids must still be ordered edges (id1 = bucket root = min)
    assert stars.filter("id1 >= id2").count() == 0


def test_incremental_neardup_model(spark):
    """Batch-vs-store near-dup flags: an exact copy of a stored doc
    flags dup_vs_store; two same-batch copies flag dup_in_batch on
    the LATER id only (per-bucket min rule); a unique doc flags
    neither."""
    from ulh_etl_spark.operators.dedup import (
        incremental_neardup,
        lsh_bands,
        minhash_signatures,
    )

    X = "the quick brown fox jumps over the lazy dog again and again"
    Y = "completely different content about spark shuffles and joins"
    Z = "unique text that matches nothing else in corpus or batch"
    store_docs = spark.createDataFrame([(0, X)], "doc_id long, text string")
    batch = spark.createDataFrame(
        [(1, X), (3, Y), (5, Y), (7, Z)], "doc_id long, text string"
    )
    store = lsh_bands(
        minhash_signatures(store_docs, "text", "doc_id", 8, 4), "doc_id", 8, 2
    )
    out = {
        r.doc_id: (r.dup_vs_store, r.dup_in_batch)
        for r in incremental_neardup(
            batch, store, "text", "doc_id", 8, 2, 4
        ).collect()
    }
    assert out[1] == (True, False)   # copy of stored doc
    assert out[3] == (False, False)  # first of the in-batch pair
    assert out[5] == (False, True)   # later copy: in-batch dup
    assert out[7] == (False, False)  # unique


def test_gram_containment_pairs_model(spark):
    """Asymmetric containment: a short doc quoted inside a longer one
    is emitted as (contained, container) with high containment but
    LOW jaccard — the pair the symmetric dedup family misses; mutual
    near-dups emit both directions; unrelated docs emit nothing; and
    a gram above df_max never blocks (but still counts in the exact
    arithmetic)."""
    from ulh_etl_spark.operators.dedup import gram_containment_pairs

    quote = "the seldom seen quartz fox vaulted the zigzag hedge"
    filler = (
        " meanwhile entirely different prose follows about query"
        " planning partition pruning shuffle exchanges and adaptive"
        " execution in long form to dilute the quoted span far below"
        " any symmetric jaccard threshold while keeping every quoted"
        " gram present verbatim"
    )
    rows = [
        (1, quote),                    # contained
        (2, quote + filler),           # container
        (3, "totally unrelated text about walking in the park"),
        (4, quote + " with a tiny tail"),  # near-dup of 1 (mutual)
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {
        (r.contained_id, r.container_id): (r.containment, r.jaccard)
        for r in gram_containment_pairs(
            df, "text", "doc_id", n=4, df_max=8, threshold=0.6
        ).collect()
    }
    # 1 ⊂ 2: full containment, low jaccard (the asymmetric case)
    c12, j12 = out[(1, 2)]
    assert c12 == 1.0 and j12 < 0.4
    # 2 is NOT contained in 1
    assert (2, 1) not in out
    # mutual near-dups 1/4: both directions, and the direction with
    # the extra tail has strictly lower containment
    assert out[(1, 4)][0] == 1.0
    assert 0.6 <= out[(4, 1)][0] < 1.0
    # unrelated doc never appears
    assert not any(3 in p for p in out)
    # 4 ⊂ 2 too (the quote rides along)
    assert out[(4, 2)][0] >= 0.6


def test_leakage_free_split_property(spark):
    """The cluster-level split's defining property: NO minhash-LSH
    candidate pair crosses a split boundary — near-dup families move
    as a unit (q122's leakage audit would report zero on this split
    by construction); singletons still split ~80/10/10 by hash."""
    from ulh_etl_spark.operators.dedup import (
        connected_components,
        minhash_candidate_pairs,
        minhash_star_edges,
    )
    from ulh_etl_spark.operators.text import hash_split

    base = "the quick brown fox jumps over the lazy dog again and again"
    rows = [(i, base + f" family {i // 3}") for i in range(30)] + [
        (100 + i, f"unique standalone document number {i} about topic {i}")
        for i in range(10)
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    edges = minhash_star_edges(docs, "text", "doc_id")
    labels = connected_components(edges).withColumnRenamed("node", "doc_id")
    assigned = (
        docs.select("doc_id")
        .join(labels, "doc_id", "left")
        .withColumn("cluster", F.coalesce("component", "doc_id"))
        .withColumn(
            "split", hash_split(F.col("cluster"), salt="clustersplit")
        )
    )
    split_of = {r.doc_id: r.split for r in assigned.collect()}
    pairs = minhash_candidate_pairs(docs, "text", "doc_id").collect()
    assert len(pairs) > 10  # families actually produce pairs
    for p in pairs:
        assert split_of[p.id1] == split_of[p.id2], (p.id1, p.id2)


def test_decontamination_report_tiers(spark):
    """q158 policy on a hand-built corpus: a benchmark near-dup
    drops, a doc quoting a 16-char span of a benchmark doc reviews,
    an unrelated doc keeps — and fuzzy takes precedence over exact
    (a near-dup always also shares spans)."""
    from ulh_etl_spark.queries.dedup import q158_decontamination_report

    # stub via operators directly (the catalog query reads parquet):
    from ulh_etl_spark.operators import dedup as D
    from ulh_etl_spark.operators import text as OT
    from pyspark.sql import functions as F

    bench_text = (
        "the benchmark evaluation answer is forty two and the"
        " reasoning chain follows precisely here"
    )
    rows = [
        (0, bench_text),                               # benchmark (id%1==0? use explicit sets)
        (1, bench_text + " tail"),                     # near-dup -> drop
        (2, "my corpus doc quotes: the benchmark evaluation answer"
            " is forty two inside other prose entirely"),  # span -> review
        (3, "totally unrelated writing about gardening and soup"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    bench = docs.filter("doc_id = 0")
    corpus = docs.filter("doc_id != 0")
    exact = OT.contamination_counts(
        corpus, bench, "text", "doc_id", n=16, min_shared=3
    )
    fuzzy = D.lsh_contamination(corpus, bench, "text", "doc_id", 8, 4, 4)
    report = (
        corpus.select("doc_id")
        .join(exact, "doc_id", "left")
        .join(fuzzy, "doc_id", "left")
        .select(
            "doc_id",
            F.when(F.coalesce("n_bands", F.lit(0)) > 0, "drop")
            .when(F.coalesce("n_shared", F.lit(0)) >= 3, "review")
            .otherwise("keep")
            .alias("verdict"),
        )
    )
    got = {r.doc_id: r.verdict for r in report.collect()}
    assert got == {1: "drop", 2: "review", 3: "keep"}


def test_knn_graph_matches_bruteforce(spark):
    """Single-cell corpus (one centroid): the cell-blocked kNN graph
    must equal the brute-force top-k by cosine with id tiebreak."""
    import numpy as np

    from ulh_etl_spark.operators.similarity import knn_graph

    rng = np.random.RandomState(7)
    vecs = rng.rand(12, 4).astype("float64")
    rows = [(i, [float(x) for x in vecs[i]]) for i in range(len(vecs))]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    cents = spark.createDataFrame(
        [(0, [0.5, 0.5, 0.5, 0.5])],
        "centroid_id long, centroid_vec array<double>",
    )
    out = {
        (r.vec_id, r.rank): r.neighbor_id
        for r in knn_graph(emb, cents, k=3).collect()
    }
    norms = np.linalg.norm(vecs, axis=1)
    for i in range(len(vecs)):
        cos = vecs @ vecs[i] / (norms * norms[i])
        order = sorted(
            (j for j in range(len(vecs)) if j != i),
            key=lambda j: (-cos[j], j),
        )
        for rank, j in enumerate(order[:3], start=1):
            assert out[(i, rank)] == j


def test_mutual_knn_edges_drops_oneway(spark):
    """Only pairs present in BOTH directions survive; output is
    canonical id1 < id2."""
    from ulh_etl_spark.operators.similarity import mutual_knn_edges

    knn = spark.createDataFrame(
        [
            # 1 <-> 2 mutual; 1 -> 3 one-way; 4 <-> 2 mutual
            (1, 2), (2, 1), (1, 3), (4, 2), (2, 4),
        ],
        "vec_id long, neighbor_id long",
    )
    got = {
        (r.id1, r.id2) for r in mutual_knn_edges(knn).collect()
    }
    assert got == {(1, 2), (2, 4)}


def test_embedding_psi_drift_model(spark):
    """Identical snapshots score exactly 0; a shifted current
    snapshot scores positive; reference bounds define the bins, and
    out-of-range current values clamp into the edge bins."""
    from ulh_etl_spark.operators.profile import embedding_psi_drift

    ref_rows = [(i, [float(i % 10)]) for i in range(20)]
    ref = spark.createDataFrame(
        ref_rows, "vec_id long, embedding array<double>"
    )
    same = embedding_psi_drift(ref, ref, dims=1, bins=4).collect()
    assert len(same) == 1
    assert same[0].dim == 0
    assert same[0].n_ref == 20 and same[0].n_cur == 20
    assert same[0].psi == 0.0

    # current mass entirely above the reference max -> clamps into
    # the top bin -> large positive psi
    cur = spark.createDataFrame(
        [(i, [100.0]) for i in range(20)],
        "vec_id long, embedding array<double>",
    )
    drift = embedding_psi_drift(ref, cur, dims=1, bins=4).collect()[0]
    assert drift.psi > 0.25

    import pytest as _pytest

    with _pytest.raises(ValueError):
        embedding_psi_drift(ref, ref, dims=0)


def test_knn_graph_multiprobe_recovers_boundary_neighbors(spark):
    """Two tight point groups straddling a centroid boundary: the
    single-probe graph misses cross-cell true neighbors; nprobe=2
    equals brute force here, and recall is monotone in nprobe. A
    (q, n) candidate pair is never duplicated at any nprobe (each
    neighbor lives in exactly one index cell)."""
    import numpy as np

    from ulh_etl_spark.operators.similarity import knn_graph

    # centroids at x=0 and x=1; points cluster around x=0.45 / 0.55
    # so each point's TRUE nearest neighbors sit across the boundary
    pts = [
        (0, [0.44, 0.00]), (1, [0.46, 0.02]),  # cell 0
        (2, [0.54, 0.01]), (3, [0.56, 0.03]),  # cell 1
        (4, [0.10, 0.90]),                      # far, cell 0
        (5, [0.90, 0.95]),                      # far, cell 1
    ]
    emb = spark.createDataFrame(pts, "vec_id long, embedding array<double>")
    cents = spark.createDataFrame(
        [(0, [0.0, 0.0]), (1, [1.0, 0.0])],
        "centroid_id long, centroid_vec array<double>",
    )
    k = 2

    def edges(nprobe):
        rows = knn_graph(emb, cents, k=k, nprobe=nprobe).collect()
        assert len({(r.vec_id, r.neighbor_id) for r in rows}) == len(rows)
        return {(r.vec_id, r.rank): r.neighbor_id for r in rows}

    single, multi = edges(1), edges(2)

    vecs = np.array([p[1] for p in pts])
    norms = np.linalg.norm(vecs, axis=1)
    brute = {}
    for i in range(len(pts)):
        cos = vecs @ vecs[i] / (norms * norms[i])
        order = sorted(
            (j for j in range(len(pts)) if j != i),
            key=lambda j: (-cos[j], j),
        )
        for rank, j in enumerate(order[:k], start=1):
            brute[(i, rank)] = j

    assert multi == brute  # nprobe = C here: exact
    hits = lambda got: sum(  # noqa: E731
        1 for kk, v in brute.items() if got.get(kk) == v
    )
    assert hits(single) < hits(multi)


def test_nn_descent_round_recovers_via_pivot(spark):
    """A suboptimal seed edge gets replaced by a true neighbor
    reached through a 2-hop pivot; current edges always ride in the
    candidate set so recall never regresses."""
    from ulh_etl_spark.operators.similarity import nn_descent_round

    emb = spark.createDataFrame(
        [
            (0, [1.0, 0.0]),    # a: true nearest is b
            (1, [0.9, 0.1]),    # b
            (2, [0.8, 0.2]),    # c
            (3, [0.0, 1.0]),    # d: far from all
        ],
        "vec_id long, embedding array<double>",
    )
    seed = spark.createDataFrame(
        # a -> c (suboptimal); c -> b; b -> a; d -> a
        [(0, 2), (2, 1), (1, 0), (3, 0)],
        "vec_id long, neighbor_id long",
    )
    out = {
        r.vec_id: r.neighbor_id
        for r in nn_descent_round(seed, emb, k=1).collect()
    }
    # a reaches b through pivot c (a-c, c-b) and b beats c on cosine
    assert out[0] == 1
    # b keeps its already-optimal edge
    assert out[1] == 0


def test_nn_descent_round_is_noop_on_single_probe_seed(spark):
    """Documented property: the single-probe cell-blocked graph has
    no cross-cell undirected edge, so every 2-hop candidate is a
    cell-mate the exhaustive in-cell top-k already scored — the
    refinement returns the identical graph."""
    from ulh_etl_spark.operators.similarity import (
        knn_graph,
        nn_descent_round,
    )

    pts = [
        (0, [0.44, 0.00]), (1, [0.46, 0.02]),
        (2, [0.54, 0.01]), (3, [0.56, 0.03]),
        (4, [0.10, 0.90]), (5, [0.90, 0.95]),
    ]
    emb = spark.createDataFrame(pts, "vec_id long, embedding array<double>")
    cents = spark.createDataFrame(
        [(0, [0.0, 0.0]), (1, [1.0, 0.0])],
        "centroid_id long, centroid_vec array<double>",
    )
    single = knn_graph(emb, cents, k=2, nprobe=1)
    refined = nn_descent_round(single, emb, k=2)
    key = lambda df: {  # noqa: E731
        (r.vec_id, r.rank): (r.neighbor_id, r.cosine) for r in df.collect()
    }
    assert key(refined) == key(single)


def test_two_level_structure_model():
    """Driver-side two-level structure: ceil(sqrt(C)) coarse picks by
    (md5('co_'+cell), cell); every fine centroid lands in exactly one
    group, at its nearest coarse (lowest-id tie-break); every coarse
    contains itself (distance 0)."""
    import hashlib
    import math

    from ulh_etl_spark.operators.similarity import two_level_structure

    rows = [
        {"cell": i, "cvec": [float(i % 5), float(i // 5), 1.0]}
        for i in range(10)
    ]
    coarse, groups = two_level_structure(rows)
    assert len(coarse) == math.ceil(math.sqrt(10))

    def h(c):
        return int(
            hashlib.md5(f"co_{c}".encode()).hexdigest()[:8], 16
        )

    want = sorted(
        (r["cell"] for r in rows), key=lambda c: (h(c), c)
    )[: len(coarse)]
    assert sorted(c["cell"] for c in coarse) == sorted(want)
    # partition: every fine in exactly one group
    members = [r["cell"] for fines in groups.values() for r in fines]
    assert sorted(members) == list(range(10))
    # self-containment: each coarse is in its own group
    for co in groups:
        assert co in [r["cell"] for r in groups[co]]


def test_ivf_assign_two_level_matches_python_model(spark):
    """Spark two-level assignment == the pure-Python two-level rule
    (top-coarse_nprobe coarse groups, fine argmin over their union,
    id tie-breaks) for every vector — at both coarse_nprobe=1 and
    the default 2."""
    import numpy as np

    from ulh_etl_spark.operators.similarity import (
        _py_sqdist,
        ivf_assign_two_level,
        two_level_structure,
    )

    rng = np.random.RandomState(11)
    vecs = rng.rand(40, 6).astype("float64")
    cvecs = rng.rand(9, 6).astype("float64")
    emb = spark.createDataFrame(
        [(i, [float(x) for x in vecs[i]]) for i in range(len(vecs))],
        "vec_id long, embedding array<double>",
    )
    cents = spark.createDataFrame(
        [(j, [float(x) for x in cvecs[j]]) for j in range(len(cvecs))],
        "centroid_id long, centroid_vec array<double>",
    )
    rows = [
        {"cell": j, "cvec": [float(x) for x in cvecs[j]]}
        for j in range(len(cvecs))
    ]
    coarse, groups = two_level_structure(rows)

    for nprobe in (1, 2):
        got = {
            r.vec_id: r.cell
            for r in ivf_assign_two_level(
                emb, cents, coarse_nprobe=nprobe
            ).collect()
        }
        for i in range(len(vecs)):
            v = [float(x) for x in vecs[i]]
            cos = sorted(
                coarse,
                key=lambda c: (_py_sqdist(v, c["cvec"]), c["cell"]),
            )[:nprobe]
            cand = [r for c in cos for r in groups[c["cell"]]]
            fine = min(
                cand,
                key=lambda r: (_py_sqdist(v, r["cvec"]), r["cell"]),
            )["cell"]
            assert got[i] == fine, f"nprobe={nprobe} vec {i}"


def test_knn_graph_two_level_multiprobe_contains_single_probe(spark):
    """Two-level multiprobe (r12): the nprobe=2 probe list always
    contains the own cell (element 1 == ivf_assign_two_level's
    assignment), so per-query recall vs brute force is monotone
    non-decreasing in nprobe — and the index side of both variants
    agrees with the two-level assignment."""
    import numpy as np

    from ulh_etl_spark.operators.similarity import knn_graph

    rng = np.random.RandomState(3)
    vecs = rng.rand(60, 5).astype("float64")
    cvecs = rng.rand(12, 5).astype("float64")
    emb = spark.createDataFrame(
        [(i, [float(x) for x in vecs[i]]) for i in range(len(vecs))],
        "vec_id long, embedding array<double>",
    )
    cents = spark.createDataFrame(
        [(j, [float(x) for x in cvecs[j]]) for j in range(len(cvecs))],
        "centroid_id long, centroid_vec array<double>",
    )
    norms = np.linalg.norm(vecs, axis=1)
    brute = {}
    for i in range(len(vecs)):
        cos = vecs @ vecs[i] / (norms * norms[i])
        brute[i] = set(
            sorted(
                (j for j in range(len(vecs)) if j != i),
                key=lambda j: (-cos[j], j),
            )[:3]
        )

    def recall(nprobe):
        g = knn_graph(emb, cents, k=3, nprobe=nprobe, two_level=True)
        got = {}
        for r in g.collect():
            got.setdefault(r.vec_id, set()).add(r.neighbor_id)
        return sum(
            len(got.get(i, set()) & brute[i]) for i in brute
        ) / (3 * len(brute))

    r1, r2 = recall(1), recall(2)
    assert r2 >= r1  # probe set contains the own cell


def test_two_level_blas_sql_kernel_parity(spark):
    """The BLAS mapInPandas kernel computes the cell function the
    literal-folded SQL kernel defined — the (dist, cell) argmin over
    the union of the top-coarse_nprobe coarse groups — for the
    assignment cells AND the full nprobe=2 probe-cell sequence,
    including on exact-duplicate corpus vectors and a vector that IS
    a centroid (distance ties resolved by the (dist, cell)
    tie-break). The pure-Python two-level model is the reference, so
    every two-level oracle keeps its meaning."""
    import numpy as np

    from ulh_etl_spark.operators.similarity import (
        _py_sqdist,
        ivf_assign_two_level,
        two_level_cells_blas,
        two_level_structure,
    )

    rng = np.random.RandomState(7)
    vecs = rng.rand(50, 6).astype("float64")
    vecs[17] = vecs[3]  # exact duplicate vector
    vecs[29] = vecs[3]
    cvecs = rng.rand(10, 6).astype("float64")
    cvecs[7] = vecs[3]  # a corpus vector that IS a centroid
    emb = spark.createDataFrame(
        [(i, [float(x) for x in vecs[i]]) for i in range(len(vecs))],
        "vec_id long, embedding array<double>",
    )
    cents = spark.createDataFrame(
        [(j, [float(x) for x in cvecs[j]]) for j in range(len(cvecs))],
        "centroid_id long, centroid_vec array<double>",
    )
    coarse, groups = two_level_structure(
        [{"cell": j, "cvec": [float(x) for x in cvecs[j]]}
         for j in range(len(cvecs))]
    )

    def model(v):
        near = sorted(
            coarse, key=lambda c: (_py_sqdist(v, c["cvec"]), c["cell"])
        )[:2]
        cand = [r for c in near for r in groups[c["cell"]]]
        return [
            r["cell"]
            for r in sorted(
                cand, key=lambda r: (_py_sqdist(v, r["cvec"]), r["cell"])
            )
        ]

    cells = {
        r.vec_id: r.cell
        for r in ivf_assign_two_level(emb, cents).collect()
    }
    probes = {
        r.vec_id: list(r._cells)
        for r in two_level_cells_blas(emb, cents, nprobe=2).collect()
    }
    for i in range(len(vecs)):
        want = model([float(x) for x in vecs[i]])
        assert cells[i] == want[0], f"vec {i}"
        assert probes[i] == want[:2], f"probe slice vec {i}"
    assert cells[3] == cells[17] == cells[29] == 7


def test_ivf_assign_matches_python_model(spark):
    """ivf_assign (flat_cells_blas element 1) == the pure-Python flat
    argmin over (dist, cell) — identical cells AND an (id, vec, cell)
    schema whose cell type is the centroid id type, on a corpus
    seeded with exact-duplicate vectors and a corpus vector that IS a
    centroid (the distance-0 tie cases)."""
    import numpy as np

    from ulh_etl_spark.operators.similarity import _py_sqdist, ivf_assign

    rng = np.random.RandomState(11)
    vecs = rng.rand(60, 6).astype("float64")
    vecs[13] = vecs[5]  # exact duplicate vector
    vecs[41] = vecs[5]
    cvecs = rng.rand(9, 6).astype("float64")
    cvecs[4] = vecs[5]  # a corpus vector that IS a centroid
    emb = spark.createDataFrame(
        [(i, [float(x) for x in vecs[i]]) for i in range(len(vecs))],
        "vec_id long, embedding array<double>",
    )
    cents = spark.createDataFrame(
        [(j, [float(x) for x in cvecs[j]]) for j in range(len(cvecs))],
        "centroid_id long, centroid_vec array<double>",
    )
    df = ivf_assign(emb, cents)
    assert df.columns == ["vec_id", "embedding", "cell"]
    assert df.schema["cell"].dataType == cents.schema["centroid_id"].dataType
    cells = {r.vec_id: r.cell for r in df.collect()}
    for i, v in enumerate(vecs.tolist()):
        want = min(
            range(len(cvecs)),
            key=lambda j: (_py_sqdist(v, cvecs[j].tolist()), j),
        )
        assert cells[i] == want, f"vec {i}"
    # the duplicate trio all landed on the centroid that IS their
    # vector (distance 0, lowest-cell tie-break)
    assert cells[5] == cells[13] == cells[41] == 4


def _same_cell_cosines(emb, cents):
    """Reference for the pair kernel: ivf_assign's cells, and every
    same-cell (id1 < id2) pair scored by the ``cosine()`` column
    expression and rounded to 6 places like the operators."""
    from ulh_etl_spark.operators.similarity import cosine, ivf_assign

    a = ivf_assign(emb, cents)
    x = a.select(F.col("vec_id").alias("id1"), F.col("embedding").alias("v1"), "cell")
    y = a.select(F.col("vec_id").alias("id2"), F.col("embedding").alias("v2"), "cell")
    c = F.round(cosine(F.col("v1"), F.col("v2")), 6).alias("c")
    pairs = x.join(y, "cell").filter(F.col("id1") < F.col("id2"))
    pairs = pairs.select("id1", "id2", c)
    return (
        {r.vec_id: r.cell for r in a.collect()},
        {(r.id1, r.id2): r.c for r in pairs.collect()},
    )


def test_neardup_pairs_blas_matches_sql(spark):
    """embedding_neardup_pairs' pair kernel == a same-cell SQL join
    scored by cosine() — same pairs, same round-6 cosines — on a
    corpus seeded with exact-duplicate vectors (cosine exactly 1.0),
    at a threshold below 1.0 and at exactly 1.0."""
    import numpy as np

    from ulh_etl_spark.operators.similarity import embedding_neardup_pairs

    rng = np.random.RandomState(23)
    vecs = rng.rand(80, 8).astype("float64")
    vecs[31] = vecs[7]   # exact duplicate pair (cosine 1.0)
    vecs[55] = vecs[7] * 2.0  # scaled duplicate (cosine 1.0 too)
    emb = spark.createDataFrame(
        [(i, [float(x) for x in vecs[i]]) for i in range(len(vecs))],
        "vec_id long, embedding array<double>",
    )
    cents = spark.createDataFrame(
        [(j, [float(x) for x in vecs[j * 9]]) for j in range(6)],
        "centroid_id long, centroid_vec array<double>",
    )
    _, ref = _same_cell_cosines(emb, cents)
    for t in (0.8, 1.0):
        got = sorted(
            (r.id1, r.id2, r.cosine)
            for r in embedding_neardup_pairs(emb, cents, threshold=t).collect()
        )
        assert got == sorted((a, b, c) for (a, b), c in ref.items() if c >= t)
        dup_pairs = {(a, b) for a, b, c in got if c == 1.0}
        assert dup_pairs & {(7, 31), (7, 55), (31, 55)}, t


def test_semantic_dedup_blas_matches_sql(spark):
    """semantic_dedup derives the dropped set from the pair kernel —
    cells and kept flags must match the same-cell SQL join reference
    exactly, including the min-id-survives chain rule on duplicate
    vectors."""
    import numpy as np

    from ulh_etl_spark.operators.similarity import semantic_dedup

    rng = np.random.RandomState(29)
    vecs = rng.rand(70, 8).astype("float64")
    vecs[12] = vecs[3]
    vecs[44] = vecs[3]  # chain: 3 survives, 12/44 drop (same cell)
    emb = spark.createDataFrame(
        [(i, [float(x) for x in vecs[i]]) for i in range(len(vecs))],
        "vec_id long, embedding array<double>",
    )
    cents = spark.createDataFrame(
        [(j, [float(x) for x in vecs[j * 11]]) for j in range(5)],
        "centroid_id long, centroid_vec array<double>",
    )
    cells, ref = _same_cell_cosines(emb, cents)
    dropped = {b for (_, b), c in ref.items() if c >= 0.95}
    got = {
        r.vec_id: (r.cell, r.kept)
        for r in semantic_dedup(emb, cents, threshold=0.95).collect()
    }
    assert got == {i: (c, i not in dropped) for i, c in cells.items()}
    assert got[3][1] is True
    assert got[12][1] is False and got[44][1] is False


def test_two_level_structure_rejects_duplicate_coarse(spark):
    """Duplicate centroid VECTORS among the coarse picks empty the
    higher-id group (distance-0 tie sends both members to the lower
    id) — the structure builder fails loudly instead of letting the
    group map embed an untyped empty array (r12 ADVICE)."""
    import pytest

    from ulh_etl_spark.operators.similarity import two_level_structure

    # 4 centroids -> 2 coarse picks; make ALL vectors identical so
    # whichever 2 cells the hash picks collide at distance 0.
    rows = [{"cell": i, "cvec": [1.0, 2.0]} for i in range(4)]
    with pytest.raises(ValueError, match="empty"):
        two_level_structure(rows)


def test_hash_ring_seed_graph_matches_python_model(spark):
    """The global hash-ring random seed == the pure-Python rule:
    rank ids by (md5('rnd_'+id), id) on one ring; edge d connects
    each vector to the position stride_d = 1 + md5('rnds_d') % (N-1)
    ahead (mod N); self-hits excluded, edges distinct."""
    import hashlib

    from ulh_etl_spark.operators.similarity import hash_ring_seed_graph

    def h32(s):
        return int(hashlib.md5(s.encode()).hexdigest()[:8], 16)

    n, k = 37, 4
    emb = spark.createDataFrame(
        [(i, [float(i)]) for i in range(n)],
        "vec_id long, embedding array<double>",
    )
    order = sorted(range(n), key=lambda i: (h32(f"rnd_{i}"), i))
    pos = {vid: p for p, vid in enumerate(order)}  # 0-based ring pos
    strides = [1 + h32(f"rnds_{d}") % (n - 1) for d in range(1, k + 1)]
    want = set()
    for vid in range(n):
        for s in strides:
            tgt = order[(pos[vid] + s) % n]
            if tgt != vid:
                want.add((vid, tgt))
    got = {
        (r.vec_id, r.neighbor_id)
        for r in hash_ring_seed_graph(emb, k=k).collect()
    }
    assert got == want


def test_prefix_filter_pairs_equal_bruteforce(spark):
    """Prefix filtering is LOSSLESS: operator output == brute-force
    all-pairs exact Jaccard at the threshold — including identical
    docs (J=1), sub-n-length docs (whole text as the single gram),
    and pairs whose sizes straddle the size-filter boundary."""
    from ulh_etl_spark.operators.dedup import prefix_filter_jaccard_pairs

    docs = [
        (0, "the quick brown fox jumps over the lazy dog"),
        (1, "the quick brown fox jumps over the lazy cat"),
        (2, "the quick brown fox jumps over the lazy dog"),  # == 0
        (3, "a completely different sentence with other words"),
        (4, "the quick brown fox leaps over the lazy dog"),
        (5, "qbf"),  # shorter than n -> single whole-text gram
        (6, "qbf"),  # J=1 with 5
        (7, "the quick brown fox jumps over the lazy dog again and again"),
    ]
    n, t = 5, 0.6
    df = spark.createDataFrame(docs, "doc_id long, text string")

    def gset(s):
        if len(s) < n:
            return {s}
        return {s[i : i + n] for i in range(len(s) - n + 1)}

    want = {}
    for i in range(len(docs)):
        for j in range(i + 1, len(docs)):
            a, b = gset(docs[i][1]), gset(docs[j][1])
            jac = len(a & b) / len(a | b)
            if round(jac, 6) >= t:
                want[(docs[i][0], docs[j][0])] = round(jac, 6)

    got = {
        (r.id1, r.id2): r.jaccard5
        for r in prefix_filter_jaccard_pairs(
            df, "text", "doc_id", n=n, threshold=t
        ).collect()
    }
    assert got == want
    assert got[(0, 2)] == 1.0 and got[(5, 6)] == 1.0


def test_power_iteration_pca_matches_numpy(spark):
    """Power iteration converges to numpy's top covariance
    eigenvector (up to sign) on an anisotropic cloud, and
    var_explained approaches lambda_1 / trace."""
    import numpy as np

    from ulh_etl_spark.operators.similarity import power_iteration_pca

    rng = np.random.RandomState(7)
    d = 8
    direction = rng.randn(d)
    direction /= np.linalg.norm(direction)
    pts = (
        np.outer(rng.randn(300) * 5.0, direction)
        + rng.randn(300, d) * 0.5
    )
    df = spark.createDataFrame(
        [(i, [float(x) for x in row]) for i, row in enumerate(pts)],
        "vec_id long, embedding array<double>",
    )
    rows = power_iteration_pca(df, "embedding", dim=d, rounds=6).collect()
    assert len(rows) == d
    v = np.zeros(d)
    for r in rows:
        v[r.dim_idx - 1] = r.loading
        # iterates round to 7 decimals — the cross-engine contract
        assert r.loading == round(r.loading, 7)
    cov = np.cov(pts.T, bias=True)
    evals, evecs = np.linalg.eigh(cov)
    top = evecs[:, -1]
    assert abs(float(np.dot(v, top))) > 0.999
    ratio = evals[-1] / evals.sum()
    got_ratio = rows[0].var_explained
    assert abs(got_ratio - ratio) < 0.02


def test_kmeans_parallel_init_matches_python_replica(spark):
    """The derandomized k-means|| rounds == a pure-Python replay of
    the same md5 rule: same seed, same per-round selections, same
    nearest-seed weights."""
    import hashlib

    from ulh_etl_spark.operators.similarity import kmeans_parallel_init

    def h32(s):
        return int(hashlib.md5(s.encode()).hexdigest()[:8], 16)

    def h60(s):
        return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)

    n, rounds, l, salt = 40, 2, 4.0, "kmtest"
    vecs = {i: [float((i * 7) % 13), float((i * 3) % 5)] for i in range(n)}
    df = spark.createDataFrame(
        [(i, vecs[i]) for i in range(n)],
        "vec_id long, embedding array<double>",
    )

    def sqd(a, b):
        acc = 0.0
        for x, y in zip(a, b):
            d = x - y
            acc += d * d
        return acc

    first = min(range(n), key=lambda i: (h32(f"{salt}_seed_{i}"), i))
    seeds = [(first, 0)]
    for r in range(1, rounds + 1):
        d2 = {
            i: min(sqd(vecs[i], vecs[s]) for s, _ in seeds)
            for i in range(n)
        }
        phi = sum(d2.values())
        for i in range(n):
            u = h60(f"{salt}_sel_{r}_{i}") / float(2 ** 60)
            if u < (l * d2[i]) / phi:
                seeds.append((i, r))
        seeds.sort(key=lambda s: (s[1], s[0]))
    want_weights = {}
    for i in range(n):
        sid = min(
            (s for s, _ in seeds), key=lambda s: (sqd(vecs[i], vecs[s]), s)
        )
        want_weights[sid] = want_weights.get(sid, 0) + 1
    want = {
        (s, r, want_weights.get(s, 0)) for s, r in seeds
    }
    got = {
        (r.seed_id, r.round_selected, r.weight)
        for r in kmeans_parallel_init(
            df, rounds=rounds, oversample=l, salt=salt
        ).collect()
    }
    assert got == want


def test_kmeans_parallel_recluster_matches_python_replica(spark):
    """The driver-side weighted greedy recluster + corpus assignment
    == a pure-Python replay: same first pick, same argmax sequence,
    same per-center counts and mean squared distances."""
    import hashlib

    from ulh_etl_spark.operators.similarity import (
        kmeans_parallel_recluster,
    )

    def h32(s):
        return int(hashlib.md5(s.encode()).hexdigest()[:8], 16)

    def h60(s):
        return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)

    n, rounds, l, k, salt = 60, 2, 6.0, 4, "kmrtest"
    vecs = {
        i: [float((i * 11) % 17), float((i * 5) % 7)] for i in range(n)
    }
    df = spark.createDataFrame(
        [(i, vecs[i]) for i in range(n)],
        "vec_id long, embedding array<double>",
    )

    def sqd(a, b):
        acc = 0.0
        for x, y in zip(a, b):
            d = x - y
            acc += d * d
        return acc

    # candidate phase replica (same rule as the init test)
    first = min(range(n), key=lambda i: (h32(f"{salt}_seed_{i}"), i))
    seeds = [first]
    for r in range(1, rounds + 1):
        d2 = {
            i: min(sqd(vecs[i], vecs[s]) for s in seeds)
            for i in range(n)
        }
        phi = sum(d2.values())
        picked = [
            i
            for i in range(n)
            if h60(f"{salt}_sel_{r}_{i}") / float(2 ** 60)
            < (l * d2[i]) / phi
        ]
        seeds.extend(sorted(picked))
    weights = {}
    for i in range(n):
        sid = min(seeds, key=lambda s: (sqd(vecs[i], vecs[s]), s))
        weights[sid] = weights.get(sid, 0) + 1

    fc = min(seeds, key=lambda s: (h32(f"{salt}_final_{s}"), s))
    centers = [fc]
    while len(centers) < k:
        best = None
        for s in seeds:
            if s in centers:
                continue
            score = weights.get(s, 0) * min(
                sqd(vecs[s], vecs[c]) for c in centers
            )
            if best is None or score > best[0] or (
                score == best[0] and s < best[1]
            ):
                best = (score, s)
        centers.append(best[1])
    want = {}
    stats = {c: [0, 0.0] for c in centers}
    for i in range(n):
        cid = min(centers, key=lambda c: (sqd(vecs[i], vecs[c]), c))
        stats[cid][0] += 1
        stats[cid][1] += sqd(vecs[i], vecs[cid])
    for order, c in enumerate(centers):
        cnt, sd = stats[c]
        want[c] = (order, cnt, round(sd / cnt, 6) if cnt else 0.0)

    got = {
        r.center_id: (r.pick_order, r.n_assigned, r.mean_sqdist)
        for r in kmeans_parallel_recluster(
            df, rounds=rounds, oversample=l, k=k, salt=salt
        ).collect()
    }
    assert got == want


def test_kmeans_parallel_identical_vectors_stop_at_phi_zero(spark):
    """Every vector coincides with the first seed, so phi == 0 in
    round 1: the rounds stop (the l * d^2 / phi threshold would be an
    ANSI divide-by-zero) and the one seed carries every point."""
    from ulh_etl_spark.operators.similarity import (
        kmeans_parallel_init,
        kmeans_parallel_recluster,
    )

    df = spark.createDataFrame(
        [(i, [1.0, 2.0]) for i in range(4)],
        "vec_id long, embedding array<double>",
    )
    init = kmeans_parallel_init(df).collect()
    assert [(r.round_selected, r.weight) for r in init] == [(0, 4)]
    centers = kmeans_parallel_recluster(df, k=1).collect()
    assert len(centers) == 1
    assert (centers[0].n_assigned, centers[0].mean_sqdist) == (4, 0.0)


def test_kmeans_and_kcenter_empty_corpus(spark):
    """An empty corpus yields an empty frame with the declared output
    schema instead of an IndexError on the first-seed collect."""
    from ulh_etl_spark.operators.similarity import (
        kcenter_coreset,
        kmeans_parallel_init,
        kmeans_parallel_recluster,
    )

    df = spark.createDataFrame(
        [(0, [1.0, 2.0])], "vec_id long, embedding array<double>"
    ).limit(0)
    cases = [
        (kcenter_coreset(df, k=3), ["step", "vec_id", "dist_when_chosen"]),
        (kmeans_parallel_init(df), ["seed_id", "round_selected", "weight"]),
        (
            kmeans_parallel_recluster(df),
            ["center_id", "pick_order", "n_assigned", "mean_sqdist"],
        ),
    ]
    for out, cols in cases:
        assert out.columns == cols
        assert out.collect() == []


def test_prefix_filter_alpha_boundary_pair_survives(spark):
    """Regression for the alpha rounding bug: a pair with Jaccard
    EXACTLY at the threshold and the positional remaining-overlap
    bound EXACTLY at the required overlap (na+nb=63, inter=28,
    J = 28/35 = 0.8 at t=0.8). The unguarded double t/(1+t) lands
    above the exact 4/9, ceil'ing alpha to 29 and silently dropping
    this pair; the s*1e-9 guard keeps it. Unique chars (freq 1) sort
    before shared chars (freq 2) in the global order, pinning the
    first-shared-token ranks (pa=4, pb=5) that make the bound 28."""
    from ulh_etl_spark.operators.dedup import prefix_filter_jaccard_pairs

    alphabet = (
        "abcdefghijklmnopqrstuvwxyz" + "ABCDEFGHI"
    )  # 35 distinct chars
    shared = alphabet[:28]
    a_unique = alphabet[28:31]
    b_unique = alphabet[31:35]
    df = spark.createDataFrame(
        [(1, shared + a_unique), (2, shared + b_unique)],
        "doc_id long, text string",
    )
    rows = prefix_filter_jaccard_pairs(
        df, "text", "doc_id", n=1, threshold=0.8
    ).collect()
    assert len(rows) == 1
    assert (rows[0].id1, rows[0].id2) == (1, 2)
    assert rows[0].jaccard1 == 0.8


def test_prefix_filter_size_bound_boundary_pair_survives(spark):
    """Regression for the SIZE-FILTER rounding twins of the alpha
    bug (ADVICE r13): at t=0.54 with |A|=243 a strict subset of
    |B|=450 (J = 243/450 = 0.54 exactly, passes the final filter),
    doubles break BOTH bounds unguarded —

    - 0.54*450 = 243.00000000000003, so ceil = 244 > 243 rejects
      the pair when the big doc is _nga;
    - 243/0.54 = 449.99999999999994, so floor = 449 < 450 rejects
      it when the small doc is _nga;
    - and the big doc's prefix length 450 - ceil(0.54*450) + 1
      comes out 207 instead of 208, cutting its one shared prefix
      token, so the candidate is never even generated.

    The s*1e-9 guards (downward on both ceils, upward on the floor)
    keep all three exact. Both id orientations run, covering each
    bound."""
    from ulh_etl_spark.operators.dedup import prefix_filter_jaccard_pairs

    chars = [chr(0x4E00 + i) for i in range(450)]
    big = "".join(chars)
    small = "".join(chars[:243])
    for big_id, small_id in ((1, 2), (2, 1)):
        df = spark.createDataFrame(
            [(big_id, big), (small_id, small)],
            "doc_id long, text string",
        )
        rows = prefix_filter_jaccard_pairs(
            df, "text", "doc_id", n=1, threshold=0.54
        ).collect()
        assert len(rows) == 1, f"pair lost with big doc as id {big_id}"
        assert (rows[0].id1, rows[0].id2) == (1, 2)
        assert rows[0].jaccard1 == 0.54


def test_power_iteration_pca_rejects_ragged_vectors(spark):
    """A corpus with one short vector must raise loudly (per-dim
    counts diverge -> mu/ss would silently skew), not return skewed
    loadings (ADVICE r13)."""
    import pytest as _pytest

    from ulh_etl_spark.operators.similarity import power_iteration_pca

    df = spark.createDataFrame(
        [(0, [1.0, 2.0, 3.0]), (1, [4.0, 5.0, 6.0]), (2, [7.0, 8.0])],
        "vec_id long, embedding array<double>",
    )
    with _pytest.raises(ValueError, match="ragged"):
        power_iteration_pca(df, "embedding", dim=3, rounds=2)


def _knn_ref(emb, cents, k, nprobe, two_level):
    """Reference for knn_graph's scoring kernel: a SQL join of each
    vector's probe cells to every vector's index cell (element 1),
    scored by ``cosine()`` and ranked by (cosine desc, neighbor id)."""
    from pyspark.sql import Window

    from ulh_etl_spark.operators.similarity import (
        cosine,
        flat_cells_blas,
        two_level_cells_blas,
    )

    assign = two_level_cells_blas if two_level else flat_cells_blas
    cells = assign(emb, cents, nprobe=nprobe)
    q = cells.select(
        "vec_id", F.col("embedding").alias("v1"), F.explode("_cells").alias("cell")
    )
    n = cells.select(
        F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("v2"),
        F.element_at("_cells", 1).alias("cell"),
    )
    w = Window.partitionBy("vec_id").orderBy(F.col("_cos").desc(), "neighbor_id")
    return (
        q.join(n, "cell")
        .filter(F.col("vec_id") != F.col("neighbor_id"))
        .withColumn("_cos", cosine(F.col("v1"), F.col("v2")))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "vec_id", "neighbor_id", F.round("_cos", 6).alias("cosine"), "rank"
        )
    )


def test_knn_score_blas_bit_exact_vs_sql(spark, sf_dir):
    """The r14 fold-exact scoring kernel: knn_graph must return the
    EXACT row set of the SQL join reference — same neighbors, same
    ranks, same rounded cosines — across flat/two-level and
    single/multi-probe configs. The kernel's per-dimension numpy
    accumulation replays _dot's left-to-right IEEE sequence, so this
    is equality, not tolerance."""
    from ulh_etl_spark.operators.similarity import knn_graph
    from ulh_etl_spark.queries.similarity import _adaptive_centroids
    from ulh_etl_spark.session import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    cents = _adaptive_centroids(emb)
    for nprobe, twol in ((1, False), (2, True), (3, False)):
        got = knn_graph(emb, cents, k=4, nprobe=nprobe, two_level=twol)
        ref = _knn_ref(emb, cents, 4, nprobe, twol)
        assert got.exceptAll(ref).count() == 0, (nprobe, twol)
        assert ref.exceptAll(got).count() == 0, (nprobe, twol)


def test_knn_score_blas_self_exclusion_small_cell(spark):
    """A cell smaller than k+1 (duplicated vectors included) still
    never returns a self-pair, and returns every non-self candidate:
    the kernel's +1 slot / re-rank bookkeeping at the m <= k edge."""
    from ulh_etl_spark.operators.similarity import knn_graph

    rows = [
        (1, [1.0, 0.0]), (2, [0.9, 0.1]), (3, [0.0, 1.0]),
        (4, [0.1, 0.9]), (5, [1.0, 0.05]),
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    cents = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [0.0, 1.0])],
        "centroid_id int, centroid_vec array<float>",
    )
    got = knn_graph(emb, cents, k=4).collect()
    assert all(r.vec_id != r.neighbor_id for r in got)
    ref = _knn_ref(emb, cents, 4, 1, False).collect()
    assert sorted(map(tuple, got)) == sorted(map(tuple, ref))


def test_prefix_filter_bloom_preverify_lossless(spark):
    """The r14 bloom-differencing pre-verification never drops a
    qualifying pair: bloom on == bloom off on a corpus with pairs
    straddling the threshold, plus the boundary-pair constructions
    from the rounding-guard tests (J exactly at t) — the cases a
    probabilistic filter would be most tempted to lose. The bound is
    popcount(bloomA & ~bloomB) <= |A \\ B| unconditionally, so this
    holds for ANY bloom width; 64 bits (high collision pressure)
    exercises the sound-but-weak regime."""
    from ulh_etl_spark.operators.dedup import prefix_filter_jaccard_pairs

    chars = [chr(0x4E00 + i) for i in range(450)]
    rows = [
        (1, "".join(chars)),            # big
        (2, "".join(chars[:243])),      # J = 0.54 vs 1
        (3, "".join(chars[:400])),      # J = 0.889 vs 1
        (4, "".join(chars[50:450])),    # J = 0.875 vs 3 on overlap
        (5, "".join(chars[200:430])),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    for t in (0.54, 0.8):
        for bits in (64, 2048):
            on = set(
                map(
                    tuple,
                    prefix_filter_jaccard_pairs(
                        df, "text", "doc_id", n=1, threshold=t,
                        bloom_bits=bits,
                    ).collect(),
                )
            )
            off = set(
                map(
                    tuple,
                    prefix_filter_jaccard_pairs(
                        df, "text", "doc_id", n=1, threshold=t,
                        bloom_bits=0,
                    ).collect(),
                )
            )
            assert on == off, (t, bits)


def test_prefix_filter_inline_bloom_lossless(spark):
    """The r15 in-join small-bloom screen never drops a qualifying
    pair: inline on (even at 64 bits — saturated, sound-but-weak
    regime) == inline off, on the same threshold-straddling corpus
    the 2048-bit pre-verify test uses, at both thresholds and with
    the downstream big bloom on AND off (so the inline screen is
    tested both as first stage of the cascade and standalone)."""
    from ulh_etl_spark.operators.dedup import prefix_filter_jaccard_pairs

    chars = [chr(0x4E00 + i) for i in range(450)]
    rows = [
        (1, "".join(chars)),
        (2, "".join(chars[:243])),
        (3, "".join(chars[:400])),
        (4, "".join(chars[50:450])),
        (5, "".join(chars[200:430])),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    for t in (0.54, 0.8):
        for big in (0, 2048):
            off = set(
                map(
                    tuple,
                    prefix_filter_jaccard_pairs(
                        df, "text", "doc_id", n=1, threshold=t,
                        bloom_bits=big, inline_bloom_bits=0,
                    ).collect(),
                )
            )
            for bits in (64, 256):
                on = set(
                    map(
                        tuple,
                        prefix_filter_jaccard_pairs(
                            df, "text", "doc_id", n=1, threshold=t,
                            bloom_bits=big, inline_bloom_bits=bits,
                        ).collect(),
                    )
                )
                assert on == off, (t, big, bits)


def test_cosine_topk_blas_bit_exact_vs_sql(spark, sf_dir):
    """cosine_topk's two sides of the query-set size fallback: the
    collected-query kernel must return the EXACT row set of the
    broadcast-join path (forced by ``max_collect_queries=0``) — same
    neighbors, same ranks, same rounded cosines — on the real
    testdata corpus at two query widths. The kernel's per-dimension
    numpy accumulation replays _dot's left-to-right IEEE sequence,
    so this is equality, not tolerance."""
    from ulh_etl_spark.operators.similarity import cosine_topk
    from ulh_etl_spark.session import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    for nq, k in ((5, 10), (64, 4)):
        queries = emb.filter(F.col("vec_id") < nq)
        blas = cosine_topk(emb, queries, k=k)
        sql = cosine_topk(emb, queries, k=k, max_collect_queries=0)
        assert blas.exceptAll(sql).count() == 0, (nq, k)
        assert sql.exceptAll(blas).count() == 0, (nq, k)


def test_cosine_topk_blas_edge_cases(spark):
    """Ties (duplicated vectors -> neighbor-id tie-break), negative
    cosines, corpus smaller than k, and self-exclusion — the edges
    where a pruned partial top-k could diverge from the full window.
    Kernel rows must equal the broadcast-join path's rows exactly,
    and an empty query set (which only that path can take) yields
    no rows. (Zero-norm vectors are checked on the kernel only:
    under ANSI mode the join path raises DIVIDE_BY_ZERO on them —
    and the production corpus has none.)"""
    from ulh_etl_spark.operators.similarity import cosine_topk

    rows = [
        (1, [1.0, 0.0]), (2, [0.9, 0.1]), (3, [0.9, 0.1]),
        (4, [-1.0, 0.0]), (5, [0.1, 0.9]), (6, [1.0, 0.0]),
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    for nq, k in ((3, 4), (6, 10)):
        queries = emb.filter(F.col("vec_id") <= nq)
        blas = cosine_topk(emb, queries, k=k).collect()
        sql = cosine_topk(emb, queries, k=k, max_collect_queries=0).collect()
        def norm(rs):
            return sorted(
                (r.query_id, r.neighbor_id, r.cosine, r.rank) for r in rs
            )
        assert norm(blas) == norm(sql), (nq, k)
        assert all(r.query_id != r.neighbor_id for r in blas)
    assert cosine_topk(emb, emb.filter(F.col("vec_id") < 0)).count() == 0

    # kernel only: a zero-norm CANDIDATE's NaN cosine crosses the
    # Arrow boundary as NULL, which the rank window orders LAST
    # under desc() — pinned so the kernel's in-batch sort key (NaN
    # below every real cosine) stays aligned with the global window.
    rows_z = rows[:3] + [(4, [0.0, 0.0])]
    emb_z = spark.createDataFrame(
        rows_z, "vec_id long, embedding array<float>"
    )
    out = cosine_topk(emb_z, emb_z.filter(F.col("vec_id") == 1), k=3).collect()
    by_rank = {r.rank: r for r in out}
    assert [by_rank[i].neighbor_id for i in (1, 2)] == [2, 3]
    assert by_rank[3].neighbor_id == 4
    assert by_rank[3].cosine is None  # NaN -> NULL at Arrow boundary


def test_two_level_cells_prefix_slice_parity(spark):
    """The r16 q204 sharing contract: ONE wide assignment pass
    prefix-sliced must equal a dedicated narrower pass row-for-row
    (same cells, same order), and knn_graph fed the sliced relation
    via cells_df must equal knn_graph running its own assignment."""
    from pyspark.sql import functions as F

    from ulh_etl_spark.operators.similarity import (
        knn_graph,
        two_level_cells_blas,
    )
    from ulh_etl_spark.queries.similarity import _adaptive_centroids
    from ulh_etl_spark.session import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    cents = _adaptive_centroids(emb)
    wide = two_level_cells_blas(emb, cents, nprobe=8, coarse_nprobe=2)
    for np_ in (2, 4, 8):
        sliced = wide.withColumn("_cells", F.slice("_cells", 1, np_))
        dedicated = two_level_cells_blas(
            emb, cents, nprobe=np_, coarse_nprobe=2
        )
        a = {r[0]: list(r["_cells"]) for r in sliced.collect()}
        d = {r[0]: list(r["_cells"]) for r in dedicated.collect()}
        assert a == d, np_
        g_shared = knn_graph(
            emb, cents, k=4, nprobe=np_, two_level=True,
            coarse_nprobe=2, cells_df=sliced,
        )
        g_own = knn_graph(
            emb, cents, k=4, nprobe=np_, two_level=True, coarse_nprobe=2,
        )
        assert g_shared.exceptAll(g_own).count() == 0, np_
        assert g_own.exceptAll(g_shared).count() == 0, np_


def test_knn_graph_cells_df_guard(spark):
    """cells_df is only meaningful on the two-level multi-probe
    path — anywhere else it must refuse loudly, not silently ignore
    a caller-supplied probe relation."""
    import pytest as _pytest

    from ulh_etl_spark.operators.similarity import knn_graph

    emb = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.0, 1.0])],
        "vec_id long, embedding array<float>",
    )
    cents = spark.createDataFrame(
        [(0, [1.0, 0.0])], "centroid_id int, centroid_vec array<float>"
    )
    with _pytest.raises(ValueError, match="cells_df"):
        knn_graph(emb, cents, k=1, nprobe=1, cells_df=emb)
    with _pytest.raises(ValueError, match="cells_df"):
        knn_graph(
            emb, cents, k=1, nprobe=2, two_level=False, cells_df=emb
        )
