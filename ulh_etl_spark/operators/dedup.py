"""Deduplication operators: exact, MinHash+LSH, SimHash, blocked
n-gram Jaccard.

Scale design (the point of each algorithm):

- **Exact** — hash-groupBy on a content fingerprint: one shuffle keyed
  by a 128-bit hash; perfectly parallel, no skew (hash keys are
  uniform).
- **MinHash + LSH** — the 100 TB near-dup path. Per-doc signature is
  a narrow map stage; banding turns O(n²) pair comparison into
  equality joins on (band_idx, band_key) buckets. Bucket sizes are
  the only skew source — a degenerate band key (e.g. empty docs)
  should be filtered or salted before the join.
- **SimHash** — 1 fingerprint per doc; near-dup = small Hamming
  distance. Bit-split blocking gives the same join-not-crossjoin
  property.
- **n-gram Jaccard** — exact verifier for candidate pairs produced by
  blocking (never run it all-pairs at scale).

Hash policy (text.gram_hash64 docstring has the numbers): operators
whose OUTPUT carries hash values (minhash signatures, LSH band keys,
simhash) use md5_hash32 so DuckDB computes identical values for the
correctness oracle; operators that only emit counts/ratios of grams
(blocked Jaccard, duplicate-gram stats, cross-group overlap) use the
~2x-cheaper xxhash64 and their oracles count raw grams instead.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from ulh_etl_spark.cache import track, truncate_lineage

from ulh_etl_spark.operators.text import (
    MERSENNE31,
    char_ngrams,
    fingerprint,
    gram_hash64,
    md5_hash32,
    whitespace_tokens,
)

# Fixed affine-permutation constants for MinHash: h_j(x) = (A_j*x + B_j) % P.
# A_j small enough that A*x+B < 2^44 — no int64 overflow in either engine.
MINHASH_A = (769, 1231, 1573, 1999, 2341, 2707, 3083, 3449)
MINHASH_B = (12345, 23456, 34567, 45678, 56789, 67890, 78901, 89012)
DEFAULT_SHINGLE = 4


# Shared under-parallelism guard (plan-metadata only, never df.rdd —
# see operators/fanout.py for why the rdd probe is a 100 TB hazard).
from ulh_etl_spark.operators.fanout import fan_out as _fan_out
from ulh_etl_spark.session import local_frame


def exact_dedup_keys(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Exact (normalized) dedup: group by content fingerprint, keep
    the minimum id as the canonical representative."""
    return (
        df.withColumn("fp", fingerprint(F.col(text_col)))
        .groupBy("fp")
        .agg(
            F.min(id_col).alias("keep_id"),
            F.count("*").alias("dup_count"),
        )
    )


def minhash_estimate_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    num_hashes: int = 8,
    rows_per_band: int = 4,
    shingle_n: int = DEFAULT_SHINGLE,
    sample_mod: int | None = None,
) -> DataFrame:
    """Sketch-accuracy audit for the MinHash family: for every LSH
    candidate pair, the signature-based Jaccard ESTIMATE (fraction of
    agreeing minhash components — the Broder estimator the banding
    math assumes) next to the EXACT shingle-set Jaccard, plus the
    absolute error. This is how you validate num_hashes/band geometry
    on a new corpus before trusting the sketch at full scale.

    ``sample_mod=K`` audits the deterministic ENDPOINT sample: a pair
    is kept iff BOTH docs satisfy ``md5_60bit(id) % K == 0`` — every
    pair has the identical 1/K^2 marginal inclusion probability, so
    the audited error distribution is unbiased (inclusion is keyed by
    doc_id, independent of content). An audit needs that
    distribution, not every pair: on a boilerplate corpus the
    candidate relation is quadratic in family size, so the full form
    is output-bound (measured 53 s / exponent 1.43 at sf1).
    Endpoint (not per-pair) keying is what makes the sample SCALE:
    a per-pair hash ``h(id1,id2) % K`` must still enumerate every
    bucket clique before filtering (measured 20 s at sf1 — the join
    emission is the cost), while the endpoint predicate filters the
    BAND table below the join, shrinking the clique enumeration
    itself by ~K^2. The hash is engine-portable (md5 nibbles,
    reproducible in DuckDB), so the sampled output stays exactly
    hash-checkable, equals the full output restricted to sampled
    endpoints (pinned by test), and the same pair is kept or dropped
    forever — re-audits compare like with like.

    Scale: exact Jaccard is computed ONLY on LSH candidates (never
    all-pairs); the per-doc distinct gram-hash array rides the two
    id-keyed joins — bounded by candidate volume, the same O(sum
    bucket^2) as the pair generation itself. The gram/md5 pipeline
    runs ONCE: signatures + gram set are one persisted projection
    feeding the band table, both join sides, and the pair generation
    (the naive compose-of-operators form re-hashed the corpus three
    times). The _fan_out guard is load-bearing here: a 1-split input
    would run the per-gram md5 HOFs on ONE core (measured 12.8 s vs
    0.9 s for the identical projection at sf0.1).
    """
    if sample_mod is not None:
        # deterministic endpoint keep/drop AT THE SOURCE (see
        # docstring): band keys are per-doc functions, so dropping
        # non-sampled docs before hashing is identical to filtering
        # the band table — and the signature/gram pipeline, persist,
        # and every join shrink by K with it. 15 md5 nibbles = the
        # sign-safe 60-bit BIGINT DuckDB reproduces (md5_hash60).
        # Filter BEFORE _fan_out: the repartition is a full exchange
        # of the document TEXT, and Catalyst does not push filters
        # through a user-requested repartition — the r12 floor
        # measurement found the full-corpus text shuffle (not the
        # signature build, 0.8 s at sf1) was most of the sampled
        # audit's ~5 s; filtering first ships only the 1/K sample.
        doc_key = F.conv(
            F.substring(F.md5(F.col(id_col).cast("string")), 1, 15),
            16,
            10,
        ).cast("long")
        df = df.filter(doc_key % sample_mod == 0)
    df = _fan_out(df)
    feats = df.select(
        F.col(id_col),
        *minhash_columns(F.col(text_col), num_hashes, shingle_n),
        F.array_distinct(
            F.transform(
                char_ngrams(F.col(text_col), shingle_n), md5_hash32
            )
        ).alias("_gs"),
    ).persist(StorageLevel.MEMORY_AND_DISK)
    track(feats)
    bands = lsh_bands(feats, id_col, num_hashes, rows_per_band)
    ba, bb = bands.alias("ba"), bands.alias("bb")
    pairs = (
        ba.join(
            bb,
            (F.col("ba.band_idx") == F.col("bb.band_idx"))
            & (F.col("ba.band_key") == F.col("bb.band_key"))
            & (F.col(f"ba.{id_col}") < F.col(f"bb.{id_col}")),
        )
        .select(
            F.col(f"ba.{id_col}").alias("id1"),
            F.col(f"bb.{id_col}").alias("id2"),
        )
        .distinct()
    )
    a = feats.select(
        F.col(id_col).alias("id1"),
        F.col("_gs").alias("_ga"),
        *[F.col(f"mh_{j}").alias(f"_a{j}") for j in range(num_hashes)],
    )
    b = feats.select(
        F.col(id_col).alias("id2"),
        F.col("_gs").alias("_gb"),
        *[F.col(f"mh_{j}").alias(f"_b{j}") for j in range(num_hashes)],
    )
    agree = None
    for j in range(num_hashes):
        term = (F.col(f"_a{j}") == F.col(f"_b{j}")).cast("int")
        agree = term if agree is None else agree + term
    inter = F.size(F.array_intersect(F.col("_ga"), F.col("_gb")))
    union = (
        F.size(F.col("_ga")) + F.size(F.col("_gb")) - inter
    )
    est = F.round(agree.cast("double") / num_hashes, 6)
    exact = F.round(
        inter.cast("double") / F.greatest(union, F.lit(1)).cast("double"), 6
    )
    return (
        pairs.join(a, "id1")
        .join(b, "id2")
        .select(
            "id1",
            "id2",
            est.alias("jaccard_est"),
            exact.alias("jaccard_exact"),
            F.round(F.abs(est - exact), 6).alias("abs_err"),
        )
    )


def incremental_dedup(
    new_docs: DataFrame,
    seen_fps: DataFrame,
    text_col: str,
    id_col: str,
) -> DataFrame:
    """Incremental exact dedup of a NEW batch against the corpus
    already ingested — the shape that makes daily corpus building
    tractable at 100 TB: the historical corpus is never re-read or
    re-hashed; only its at-rest fingerprint store (``seen_fps``, one
    ``fp`` column, written once per batch and appended) participates.

    Two-stage: (1) within-batch keep-min on the fingerprint (one
    partial-agged groupBy of the NEW data only), (2) anti-join the
    winners against the historical fingerprints on ``fp``. Returns
    (id_col, fp, batch_dups) — the surviving new documents, with how
    many in-batch copies each collapsed.

    Scale: stage 2 is fp-keyed — bucket the fingerprint store by fp
    (sinks.tables.write_bucketed) and the anti-join co-locates with
    NO shuffle of the store; a day's batch is the small side and its
    post-dedup winners often broadcast outright. Uniform 128-bit
    fingerprints cannot skew."""
    winners = (
        new_docs.withColumn("fp", fingerprint(F.col(text_col)))
        .groupBy("fp")
        .agg(
            F.min(id_col).alias(id_col),
            F.count("*").alias("batch_dups"),
        )
    )
    return winners.join(
        seen_fps.select("fp"), "fp", "left_anti"
    ).select(id_col, "fp", "batch_dups")


def incremental_neardup(
    new_docs: DataFrame,
    store_bands: DataFrame,
    text_col: str,
    id_col: str,
    num_hashes: int = 8,
    rows_per_band: int = 2,
    shingle_n: int = DEFAULT_SHINGLE,
    new_bands: DataFrame | None = None,
) -> DataFrame:
    """Incremental NEAR-dup screening of a new batch against the
    at-rest LSH band store — the fuzzy twin of
    :func:`incremental_dedup`: the historical corpus is never re-read
    or re-signed; only its band table (``store_bands``:
    (band_idx, band_key), written once per batch by
    :func:`lsh_bands` and appended) participates.

    Per new doc, two independent flags:
      - ``dup_vs_store``: shares >= 1 band bucket with ANY stored doc
        (a distinct-projected store side — the lsh_contamination
        broadcast shape; the batch never shuffles beyond its own
        signature agg);
      - ``dup_in_batch``: shares >= 1 band bucket with a SMALLER-id
        doc of the SAME batch (per-bucket min — the star-edge rule,
        B-1 comparisons per bucket, never C(B,2)).
    A doc enters the corpus iff neither flag is set; its band rows
    append to the store either way the caller decides (dup bands are
    usually appended too, so future batches collide with the KEPT
    representative's buckets).

    Output: (id, dup_vs_store, dup_in_batch) — one row per new doc
    that produced a signature (every doc: char_ngrams yields >= 1
    gram for any text).

    ``new_bands`` optionally supplies the batch's band table
    pre-computed (it MUST come from the same lsh_bands /
    minhash_signatures parameters) — the streaming twin computes the
    bands once and feeds the same frame to the screen AND the store
    append, so the two can't drift and the signature pass runs once
    per micro-batch."""
    from pyspark.sql import Window

    if new_bands is None:
        new_bands = lsh_bands(
            minhash_signatures(
                new_docs, text_col, id_col, num_hashes, shingle_n
            ),
            id_col,
            num_hashes,
            rows_per_band,
        )
    store = store_bands.select("band_idx", "band_key").distinct()
    w = Window.partitionBy("band_idx", "band_key")
    flagged = (
        new_bands.join(
            store.withColumn("_hit", F.lit(True)),
            ["band_idx", "band_key"],
            "left",
        )
        .withColumn("_batch_min", F.min(id_col).over(w))
    )
    return flagged.groupBy(id_col).agg(
        F.max(F.coalesce(F.col("_hit"), F.lit(False))).alias("dup_vs_store"),
        F.max(F.col("_batch_min") < F.col(id_col)).alias("dup_in_batch"),
    )


def gram_containment_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    n: int = DEFAULT_SHINGLE,
    df_max: int = 8,
    threshold: float = 0.6,
) -> DataFrame:
    """Asymmetric near-CONTAINMENT pairs — the quote/subset relation
    Jaccard structurally misses: containment(A in B) =
    |grams(A) ∩ grams(B)| / |grams(A)| is high when A is quoted
    inside a much larger B even though their Jaccard is tiny
    (the size mismatch sinks |A∩B|/|A∪B|). The aggregator-page /
    quotation / boilerplate-inclusion detector of a curation stack.

    Blocking (the scale-critical part): candidates share at least one
    RARE gram — distinct-gram document frequency in [2, ``df_max``].
    Rare-gram blocking is the classic ER move: per rare gram the pair
    clique is <= C(df_max, 2), so candidate volume is bounded by
    df-filtered posting lists, never all-pairs and never the hot
    boilerplate grams (df > df_max drops the gram from BLOCKING only
    — the exact containment arithmetic still uses every gram). Recall
    is a knob, not total: a contained span must contribute one gram
    rare at corpus level (threshold-recall tradeoff documented here,
    NOT hidden); raise df_max for more recall at quadratic-in-df_max
    bucket cost. The DuckDB oracle reproduces the identical df
    blocking rule, so the gate is exact for what the operator claims.

    Emits ORDERED rows (contained_id, container_id, containment,
    jaccard): one row per direction whose containment >= threshold —
    mutual near-dups qualify in both directions, a strict subset in
    one; jaccard rides along to show why containment was needed.

    Scale: gram sets hashed to longs (gram_hash64 two-hash policy —
    only ratios escape, the oracle verifies against raw grams), one
    df groupBy (partial-agged), bounded-clique pair join, arrays ride
    the verify join once. Same persist rationale as
    ngram_jaccard_pairs_blocked."""
    df = _fan_out(df)
    g = df.select(
        F.col(id_col),
        F.array_distinct(
            F.transform(
                F.array_distinct(char_ngrams(F.col(text_col), n)),
                lambda x: gram_hash64(x),
            )
        ).alias("_g"),
    ).persist(StorageLevel.MEMORY_AND_DISK)
    track(g)
    posts = g.select(F.col(id_col), F.explode("_g").alias("_gram"))
    rare = (
        posts.groupBy("_gram")
        .agg(F.count("*").alias("_df"))
        .filter((F.col("_df") >= 2) & (F.col("_df") <= df_max))
        .select("_gram")
    )
    rp = posts.join(rare, "_gram")
    pairs = (
        rp.alias("a")
        .join(
            rp.alias("b"),
            (F.col("a._gram") == F.col("b._gram"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("_id1"),
            F.col(f"b.{id_col}").alias("_id2"),
        )
        .distinct()
    )
    ga = g.select(F.col(id_col).alias("_id1"), F.col("_g").alias("_ga"))
    gb = g.select(F.col(id_col).alias("_id2"), F.col("_g").alias("_gb"))
    inter = F.size(F.array_intersect(F.col("_ga"), F.col("_gb")))
    union = F.size("_ga") + F.size("_gb") - inter
    scored = (
        pairs.join(ga, "_id1")
        .join(gb, "_id2")
        .select(
            "_id1",
            "_id2",
            inter.alias("_i"),
            F.size("_ga").alias("_na"),
            F.size("_gb").alias("_nb"),
            F.round(
                inter.cast("double")
                / F.greatest(union, F.lit(1)).cast("double"),
                6,
            ).alias("jaccard"),
        )
    )
    c12 = F.round(
        F.col("_i").cast("double")
        / F.greatest(F.col("_na"), F.lit(1)).cast("double"),
        6,
    )
    c21 = F.round(
        F.col("_i").cast("double")
        / F.greatest(F.col("_nb"), F.lit(1)).cast("double"),
        6,
    )
    fwd = scored.select(
        F.col("_id1").alias("contained_id"),
        F.col("_id2").alias("container_id"),
        c12.alias("containment"),
        "jaccard",
    ).filter(F.col("containment") >= threshold)
    rev = scored.select(
        F.col("_id2").alias("contained_id"),
        F.col("_id1").alias("container_id"),
        c21.alias("containment"),
        "jaccard",
    ).filter(F.col("containment") >= threshold)
    return fwd.unionByName(rev)


def minhash_columns(text: Column, num_hashes: int = 8, shingle_n: int = DEFAULT_SHINGLE) -> list[Column]:
    """MinHash signature as ``num_hashes`` long columns (mh_0..mh_k).

    signature_j = min over shingles s of (A_j * h(s) + B_j) mod P,
    h = 32-bit md5 prefix. Column-per-hash (not an array) keeps each
    value independently usable as a join/band key.
    """
    grams = char_ngrams(text, shingle_n)
    hashes = F.transform(grams, md5_hash32)

    def _perm(a: int, b: int):
        # closure capture, not lambda defaults (PySpark counts params)
        return lambda h: (F.lit(a) * h + F.lit(b)) % F.lit(MERSENNE31)

    out = []
    for j in range(num_hashes):
        perm = F.transform(hashes, _perm(MINHASH_A[j], MINHASH_B[j]))
        out.append(F.array_min(perm).alias(f"mh_{j}"))
    return out


def minhash_signatures(
    df: DataFrame, text_col: str, id_col: str, num_hashes: int = 8, shingle_n: int = DEFAULT_SHINGLE
) -> DataFrame:
    """MinHash signatures via explode -> hash-once -> partial-agg min.

    The column-expression form (minhash_columns) re-evaluates the
    md5-per-shingle array once per signature column — 8x the dominant
    cost. Exploding shingles to rows hashes each shingle exactly once;
    the groupBy computes all 8 mins in one pass with map-side partial
    aggregation, so the shuffle carries ~|docs| rows, not |shingles|.
    This is the formulation that holds at 100 TB.
    """
    # Spread the per-shingle hashing across all cores even when the
    # source arrives as a single parquet split (no-op on well-split
    # inputs). Distinct before explode: min over duplicates is
    # unchanged, so never hash (or shuffle) a duplicate shingle.
    df = _fan_out(df)
    grams = F.array_distinct(char_ngrams(F.col(text_col), shingle_n))
    # explode_outer: char_ngrams yields >= 1 gram for any text, so
    # outer == inner exactly — and it stops InferFiltersFromGenerate
    # from duplicating the gram pipeline in a pushed per-row filter
    # (SCALE.md, round 4).
    exploded = df.select(F.col(id_col), F.explode_outer(grams).alias("_gram"))
    hashed = exploded.select(F.col(id_col), md5_hash32(F.col("_gram")).alias("_h"))
    aggs = [
        F.min(
            (F.lit(MINHASH_A[j]) * F.col("_h") + F.lit(MINHASH_B[j])) % F.lit(MERSENNE31)
        ).alias(f"mh_{j}")
        for j in range(num_hashes)
    ]
    return hashed.groupBy(id_col).agg(*aggs)


def lsh_bands(
    sig_df: DataFrame, id_col: str, num_hashes: int = 8, rows_per_band: int = 2
) -> DataFrame:
    """Unpivot the signature into (id, band_idx, band_key) — one row
    per band; band_key concatenates the band's minhash values. Docs
    sharing any band_key are candidate near-dups.

    ``rows_per_band`` must divide ``num_hashes`` exactly: a remainder
    would silently ignore trailing hashes, and rows_per_band >
    num_hashes would yield ZERO bands — turning LSH (and anything
    built on it, e.g. decontamination) into a silent no-op."""
    if rows_per_band <= 0 or num_hashes % rows_per_band != 0:
        raise ValueError(
            f"rows_per_band={rows_per_band} must be a positive divisor "
            f"of num_hashes={num_hashes} (a remainder drops trailing "
            "hashes; rows_per_band > num_hashes yields zero bands)"
        )
    num_bands = num_hashes // rows_per_band
    bands = []
    for b in range(num_bands):
        cols = [F.col(f"mh_{b * rows_per_band + r}") for r in range(rows_per_band)]
        bands.append(
            F.struct(
                F.lit(b).alias("band_idx"),
                F.concat_ws("_", *[c.cast("string") for c in cols]).alias("band_key"),
            )
        )
    return sig_df.select(
        F.col(id_col), F.explode(F.array(*bands)).alias("band")
    ).select(id_col, F.col("band.band_idx").alias("band_idx"), F.col("band.band_key").alias("band_key"))


def minhash_candidate_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    num_hashes: int = 8,
    rows_per_band: int = 2,
    shingle_n: int = DEFAULT_SHINGLE,
    max_bucket_size: int | None = None,
    salt_buckets: int | None = None,
) -> DataFrame:
    """LSH candidate pairs: equality self-join on (band_idx, band_key),
    id1 < id2, distinct. Scale: the join shuffles on the band key —
    O(sum bucket²) work instead of O(n²); no driver collect.

    ``max_bucket_size`` is the degenerate-bucket guard for corpora
    with boilerplate: a bucket of B docs emits B² pairs, so one
    pathological band key (empty docs, shared headers) can dominate
    the whole join. Capping drops buckets above the limit BEFORE the
    self-join (one extra partial-agg count, no skewed shuffle ever
    materializes). The trade is recall on exactly those documents —
    which near-dup dedup would mostly collapse to one survivor
    anyway; exact dedup upstream catches the fully-identical ones.
    Default None = exact parity with the SQL oracle.

    ``salt_buckets`` = S is the LOSSLESS skew guard: each side of the
    self-join carries a deterministic per-id salt in [0, S) plus an
    exploded guess of the other side's salt, and the join key becomes
    (band, key, sa, sb) — a hot bucket of B rows splits into S² shuffle
    cells of ~(B/S)² pairs each instead of one straggler task doing
    B². Every pair still matches exactly once (x's salt row meets y's
    guess row at (h(x), h(y))), so output is identical to unsalted —
    at S× band-table replication cost. Use when the hot buckets are
    real near-dups you must keep (cap drops them instead).
    """
    sigs = minhash_signatures(df, text_col, id_col, num_hashes, shingle_n)
    # Persist the band table: the self-join would otherwise recompute
    # the whole shingle-hash pipeline for BOTH sides. The band table is
    # 2 short rows per doc — far cheaper to materialize than recompute
    # (spills to disk at scale; this is the canonical LSH shape).
    bands = track(
        lsh_bands(sigs, id_col, num_hashes, rows_per_band).persist(
            StorageLevel.MEMORY_AND_DISK
        )
    )
    if max_bucket_size is not None:
        counts = bands.groupBy("band_idx", "band_key").agg(
            F.count("*").alias("_bsz")
        )
        bands = bands.join(
            counts.filter(F.col("_bsz") <= max_bucket_size),
            ["band_idx", "band_key"],
        ).drop("_bsz")
    on = [F.col("a.band_idx") == F.col("b.band_idx"),
          F.col("a.band_key") == F.col("b.band_key")]
    if salt_buckets is not None:
        s = F.lit(salt_buckets)
        guesses = F.explode(F.sequence(F.lit(0), s - 1))
        a = (
            bands.withColumn("_sa", F.pmod(F.hash(id_col), s))
            .withColumn("_sb", guesses)
            .alias("a")
        )
        b = (
            bands.withColumn("_sb", F.pmod(F.hash(id_col), s))
            .withColumn("_sa", guesses)
            .alias("b")
        )
        on += [F.col("a._sa") == F.col("b._sa"),
               F.col("a._sb") == F.col("b._sb")]
    else:
        a, b = bands.alias("a"), bands.alias("b")
    cond = on[0]
    for c in on[1:]:
        cond = cond & c
    return (
        a.join(b, cond & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")))
        .select(
            F.col(f"a.{id_col}").alias("id1"),
            F.col(f"b.{id_col}").alias("id2"),
        )
        .distinct()
    )


def minhash_star_edges(
    df: DataFrame,
    text_col: str,
    id_col: str,
    num_hashes: int = 8,
    rows_per_band: int = 2,
    shingle_n: int = DEFAULT_SHINGLE,
) -> DataFrame:
    """Connectivity-only LSH edges for clustering pipelines: per band
    bucket, one edge from each member to the bucket's MIN id (a star)
    instead of the full C(B, 2) pair enumeration. A bucket is a
    clique in the candidate graph, and a star spans a clique — so
    ``connected_components`` over these edges is IDENTICAL to
    components over :func:`minhash_candidate_pairs`, at B-1 edges per
    bucket instead of B(B-1)/2.

    This is the difference between linear and quadratic on corpora
    with boilerplate: measured on the synthetic corpus at 10x sf0.1,
    the pair relation is 47.6M rows (near-clique buckets) vs ~200K
    star edges — the downstream component fixpoint iterates over
    47.6M edges every round for the SAME final labels. Use the pair
    op when pairs themselves are the product (similarity audits,
    exact-verify reranks); use this when pairs only feed clustering.

    Plan: signature agg (one shuffle) -> band explode -> ONE
    window-min per (band_idx, band_key) -> filter + distinct. The
    hot-bucket cost is B rows through one window task — linear, vs
    the B^2 shuffle cells the pair join needs salting for. Returns
    (id1, id2), id1 < id2 (id1 is always the bucket root)."""
    from pyspark.sql import Window

    bands = lsh_bands(
        minhash_signatures(df, text_col, id_col, num_hashes, shingle_n),
        id_col,
        num_hashes,
        rows_per_band,
    )
    w = Window.partitionBy("band_idx", "band_key")
    return (
        bands.withColumn("_root", F.min(id_col).over(w))
        .filter(F.col(id_col) != F.col("_root"))
        .select(
            F.col("_root").alias("id1"), F.col(id_col).alias("id2")
        )
        .distinct()
    )


def lsh_contamination(
    corpus: DataFrame,
    benchmark: DataFrame,
    text_col: str,
    id_col: str,
    num_hashes: int = 8,
    rows_per_band: int = 2,
    shingle_n: int = DEFAULT_SHINGLE,
) -> DataFrame:
    """Fuzzy (near-duplicate) benchmark decontamination: corpus docs
    whose MinHash signature shares >= 1 LSH band bucket with ANY
    benchmark doc — the near-dup complement of the exact n-gram
    check in ``operators.text.contamination_counts`` (paraphrased or
    lightly-edited eval material that exact grams miss).

    Output: (id, n_bands) — how many of the doc's bands collide with
    the benchmark set (more bands = higher estimated similarity).

    Scale shape: both sides run the explode -> hash-once ->
    partial-agg signature pipeline; the benchmark band set is
    distinct-projected to (band_idx, band_key) — tiny (bands x
    |benchmark| rows, no doc payload), so AQE broadcasts it and the
    CORPUS NEVER SHUFFLES: scan -> signature agg (one shuffle on the
    doc id, carrying 8 longs/doc) -> broadcast-hash semi join ->
    per-doc count. No self-join, no candidate pair materialization.
    """
    cb = lsh_bands(
        minhash_signatures(corpus, text_col, id_col, num_hashes, shingle_n),
        id_col,
        num_hashes,
        rows_per_band,
    )
    bb = (
        lsh_bands(
            minhash_signatures(
                benchmark, text_col, id_col, num_hashes, shingle_n
            ),
            id_col,
            num_hashes,
            rows_per_band,
        )
        .select("band_idx", "band_key")
        .distinct()
    )
    # count(*), not count_distinct: lsh_bands emits exactly one row
    # per (doc, band_idx) and the benchmark side is distinct-projected
    # before the join, so matched rows are already unique per (doc,
    # band) — a distinct aggregate would add an Expand + second
    # shuffle for a value it cannot change.
    return (
        cb.join(F.broadcast(bb), ["band_idx", "band_key"])
        .groupBy(id_col)
        .agg(F.count("*").alias("n_bands"))
    )


def ngram_jaccard_pairs_blocked(
    df: DataFrame,
    text_col: str,
    id_col: str,
    block_col: str,
    length_col: str,
    max_length_diff: int = 20,
    n: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """Exact n-gram Jaccard over length-blocked candidate pairs.

    Join strategy (the scale-critical part): a raw same-``block_col``
    self-join shuffles on a handful of keys (e.g. 5 languages) — 5
    tasks do all the work. Instead each doc gets a length bucket of
    width ``max_length_diff``; a qualifying pair is always in the same
    or adjacent bucket, so the join becomes TWO equi-joins on
    (block, bucket) and (block, bucket -> bucket+1). Bucket ordering /
    id ordering make each pair appear exactly once — no distinct
    needed. Key cardinality goes from |blocks| to |blocks x buckets|,
    and non-candidate pairs are never materialized. Gram sets are
    computed once per doc, before the join.
    """
    # Gram sets as xxhash64-long arrays, not strings: integer set-
    # intersection is several times cheaper than string comparison and
    # the hashed set is ~1/3 the bytes of the raw grams it replaces.
    # xxhash64 over md5 (two-hash policy, text.gram_hash64): only the
    # Jaccard VALUE escapes, and at 64 bits hash-set Jaccard equals
    # raw-gram Jaccard up to ~n^2/2^65 collision noise — so the oracle
    # verifies against raw-gram Jaccard directly.
    # Persist the gram-set relation: building the gram sets is the
    # dominant cost (one regex capture per position), and the two
    # self-joins would recompute it up to 4x (once per join side).
    # Materializing once is the canonical candidate-verification
    # shape — at scale the gram sets are ~3x the text size and spill
    # to disk cleanly.
    # Repartition first (only if under-parallel): a small input may
    # arrive as 1-2 parquet splits and the per-char md5 work would run
    # on as many cores.
    df = _fan_out(df)
    g = df.select(
        F.col(id_col),
        F.col(block_col).alias("_blk"),
        F.col(length_col).alias("_len"),
        (F.col(length_col) / max_length_diff).cast("long").alias("_bkt"),
        # distinct BEFORE hashing (never hash a duplicate gram) AND
        # after: two distinct grams that collide must still yield a
        # deduplicated hash set, or |A|+|B| counts a hash that
        # array_intersect dedupes.
        F.array_distinct(
            F.transform(
                F.array_distinct(char_ngrams(F.col(text_col), n)),
                lambda g: gram_hash64(g),
            )
        ).alias("_g"),
    ).persist(StorageLevel.MEMORY_AND_DISK)
    track(g)
    # Single join via probe replication: side a probes its own bucket
    # AND the next one (explode to 2 rows), so same-bucket and
    # adjacent-bucket candidates come out of ONE equi-join — half the
    # join scheduling and one scan of g per side instead of two.
    # Dedup rules keep each pair exactly once: same-bucket needs
    # id_a < id_b; adjacent pairs (a below b) are unique already.
    a = g.select(
        F.col(id_col), "_blk", "_len", "_bkt", "_g",
        F.explode(F.array(F.col("_bkt"), F.col("_bkt") + 1)).alias("_probe"),
    ).alias("a")
    b = g.alias("b")
    ia, ib = F.col(f"a.{id_col}"), F.col(f"b.{id_col}")

    joined = a.join(
        b,
        (F.col("a._blk") == F.col("b._blk"))
        & (F.col("a._probe") == F.col("b._bkt")),
    ).filter(
        (
            ((F.col("a._bkt") == F.col("b._bkt")) & (ia < ib))
            | (F.col("a._bkt") + 1 == F.col("b._bkt"))
        )
        & (F.abs(F.col("a._len") - F.col("b._len")) <= max_length_diff)
    )

    pairs = joined.select(
        F.least(ia, ib).alias("id1"),
        F.greatest(ia, ib).alias("id2"),
        F.size(F.array_intersect(F.col("a._g"), F.col("b._g"))).alias("_i"),
        F.size(F.col("a._g")).alias("_la"),
        F.size(F.col("b._g")).alias("_lb"),
    )
    jac = F.round(
        F.col("_i").cast("double")
        / (F.col("_la") + F.col("_lb") - F.col("_i")).cast("double"),
        6,
    )
    return pairs.select("id1", "id2", jac.alias(f"jaccard{n}")).filter(
        F.col(f"jaccard{n}") >= threshold
    )


# Candidate-count bound under which the verify stage switches to the
# broadcast-needed-docs shape (the id list broadcast is <= ~2 x this
# many ids, a few MB — safe on a real cluster; above it, fall back to
# sort-merge against the full gram relation).
_CAND_SMALL = 500_000


def prefix_filter_jaccard_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    n: int = 5,
    threshold: float = 0.8,
    bloom_bits: int = 2048,
    inline_bloom_bits: int = 512,
) -> DataFrame:
    """EXACT set-similarity self-join via prefix filtering (the
    AllPairs / PPJoin candidate rule — Chaudhuri et al. ICDE'06,
    Bayardo et al. WWW'07): every pair with n-gram Jaccard >=
    ``threshold``, with NO false negatives and no LSH probability
    knob — the lossless alternative to MinHash banding when the
    pipeline needs a guarantee, not a recall estimate.

    Candidate rule: order each doc's distinct gram set by a global
    total order (ascending corpus frequency, rarest first — ties by
    the gram hash); keep each doc's first ``|g| - ceil(t*|g|) + 1``
    grams (the *prefix*). Two sets with Jaccard >= t must overlap in
    >= ceil(t*|g|) grams, so by pigeonhole a qualifying partner hits
    the prefix — joining prefixes on the gram is COMPLETE. Two more
    Jaccard necessities prune inside the same join: the SIZE filter
    (t <= |A|/|B| <= 1/t) and PPJoin's POSITIONAL filter — a token
    matched at prefix ranks (pa, pb) bounds the achievable overlap
    at min(|A|-pa, |B|-pb) + 1, which must reach the required
    alpha = ceil(t/(1+t) * (|A|+|B|)). The positional filter keeps a
    pair if ANY shared prefix token passes; completeness holds
    because a qualifying pair's FIRST shared token (in the global
    order) always passes — every shared token sits at rank >= pa in
    A and >= pb in B, so overlap <= min(|A|-pa, |B|-pb) + 1 >= alpha
    there. Candidates then verify with one exact array_intersect
    over the full (persisted) gram sets.

    Scale: the prefix join shuffles one row per PREFIX gram (a
    ~(1-t) fraction of the gram explode), keyed by the gram — and
    because prefixes keep the RAREST grams, bucket sizes are the
    frequency tail, not the head: the hot grams that would make a
    plain gram-join quadratic never enter the join. Verification
    cost is |candidates|. Measured at sf0.1 (5,000 docs, 12.5M
    all-pairs, 8-grams, t=0.8): prefix+size alone 1.44M candidates,
    + positional filter 199k — 63x below all-pairs even on this
    synthetic small-vocab corpus (5-grams without the positional
    filter read 2.95M: longer grams enrich the vocabulary and
    sharpen the frequency order). On a natural Zipf vocabulary the
    prefix rule alone prunes orders of magnitude. The oracle is
    brute-force all-pairs ground truth, so every filter's
    completeness is hash-checked, not assumed.

    Internal hash policy: gram_hash64 (output carries no hash
    values; the oracle verifies raw-gram Jaccard — two-hash policy,
    text.gram_hash64 docstring). The global order differs from the
    oracle's (hash vs raw-gram tie-break) — harmless, the theorem
    holds for ANY fixed total order and the verified output is
    order-invariant.

    ``bloom_bits`` (r14, 0 disables): a LOSSLESS bloom-differencing
    pre-verification between the candidate join and the exact
    verify. The exact verify's pair-keyed exchange ships one full
    gram-hash array (~|g|·8 B) per candidate — ~120 GB at sf10 on
    the small-vocab corpus, the operator's r13 single-box envelope.
    Instead, each doc gets a ``bloom_bits``-bit one-hash bloom of
    its gram set (an array of longs, 256 B at the default), and the
    pair exchange carries blooms first: every bit of
    ``bloomA & ~bloomB`` was set by >= 1 gram of A and by NO gram of
    B, so ``popcount(bloomA & ~bloomB) <= |A \\ B|`` UNCONDITIONALLY
    — collisions only LOWER the count — giving the sound bound
    ``|A∩B| <= |A| - popcount(bloomA & ~bloomB)`` (and
    symmetrically for B). A pair is dropped only when
    ``min(ubA, ubB) < alpha`` (the same guarded required-overlap the
    positional filter uses), so no qualifying pair is ever lost;
    far-from-threshold candidates — the bulk of the prefix join's
    output — never reach the array exchange. At fill factor
    |g|/bloom_bits ≈ 0.2 the expected detected difference is
    ~0.8·|A\\B|, so pairs at J <~ 0.75 prune w.h.p. at t=0.8 while
    near-misses verify exactly as before.

    ``inline_bloom_bits`` (r15, 0 disables): the SAME unconditional
    difference bound, but evaluated INSIDE the prefix join's
    generated filter, before any pair ever reaches an exchange. The
    r14 cascade still paid the quadratic enumeration tax twice
    downstream of the join: the candidate DISTINCT shuffled every
    enumerated pair (at sf10 this was the ~61 GB disk envelope) and
    the bloom stage shipped two 256 B arrays per surviving pair
    (sf1: 29 of 55 s). Measured at sf1, the 2048-bit screen passes
    2,560 of 14.25 M candidates — exactly the output — so virtually
    everything shuffled was dead on arrival. The inline screen
    stores a small per-doc bloom as ``inline_bloom_bits/64`` PLAIN
    LONG COLUMNS on the prefix relation (arrays would put a
    higher-order function in the hot loop; separate columns keep the
    whole predicate in whole-stage codegen), so the join stage
    evaluates size + positional + bloom-difference per enumerated
    row and only joint survivors flow to the distinct. Soundness is
    the same popcount(A & ~B) <= |A \\ B| argument — saturation at
    this width only WEAKENS the bound, never breaks it — so the
    cascade stays lossless: inline screen (O(1)/pair, in-join) ->
    2048-bit screen (near-threshold precision) -> exact verify.
    Width sizing, measured at sf10 (500k docs, ~278 grams/doc):
    256 bits saturates (fill ~0.66) and leaves ~half the 212 M
    enumerated candidates standing; 512 bits (fill ~0.42) passes
    EXACTLY the 25,600 output pairs — the screen alone is
    output-precise on this corpus — in a 36 s enumerate+distinct;
    1024 bits passes the same set 2x slower (wider shuffle). Default
    512 = 8 long columns; size toward ~2x the per-doc distinct gram
    count.

    EAGER (r15 ADVICE — the exception to the r10 lazy-construction
    contract, like the centroid-collect policy): constructing this
    DataFrame runs the heaviest stage — the gram build, the prefix
    chain, and the full candidate enumeration join execute inside a
    ``cand.count()`` here, because the one scalar it returns picks
    the verify stage's PHYSICAL shape (broadcast needed-docs vs
    corpus sort-merge). Callers that only want to build/explain the
    plan (plan audits) pay that execution. If the count fails, the
    three persisted relations are unpersisted before the error
    propagates.

    Output: (id1, id2, jaccard{n}) — jaccard rounded to 6 (one
    fixed-order division, exact cross-engine).
    """
    df = _fan_out(df)
    g = df.select(
        F.col(id_col),
        F.array_distinct(
            F.transform(
                F.array_distinct(char_ngrams(F.col(text_col), n)),
                lambda s: gram_hash64(s),
            )
        ).alias("_g"),
    ).withColumn("_ng", F.size("_g")).persist(StorageLevel.MEMORY_AND_DISK)
    track(g)

    tok = g.select(F.col(id_col), "_ng", F.explode("_g").alias("_h"))
    from pyspark.sql import Window

    # Gram frequency as COUNT OVER (PARTITION BY _h) instead of the
    # r15 freq-groupBy + join-back (r17, the duplicate_gram_stats r16
    # lesson): the join's probe side and the groupBy shuffled the
    # token relation on the same key the window partitions by, so the
    # analytic form drops the whole join — one exchange on _h, one on
    # the doc id, identical (doc, gram, cnt) rows (measured 1.45 ->
    # 0.95 s warm at sf0.1, counts row-identical). Boilerplate-gram
    # skew sits on the same _h key either way.
    wcnt = Window.partitionBy("_h")
    w = Window.partitionBy(id_col).orderBy(F.col("_cnt").asc(), F.col("_h").asc())
    # Same downward ceil guard as alpha (below): ceil(t*_ng) computed
    # on doubles can land one ABOVE the exact rational when t*_ng is
    # an exact integer (e.g. t=0.54, _ng=450 -> 243.00000000000003),
    # which would make the prefix one token SHORT — a silent lost
    # pair. The epsilon can only LENGTHEN the prefix (extra
    # candidates, harmless; exact verify follows).
    prefix_len = (
        F.col("_ng")
        - F.ceil(
            F.lit(threshold) * F.col("_ng") - F.col("_ng") * F.lit(1e-9)
        ).cast("long")
        + F.lit(1)
    )
    pref = (
        tok.withColumn("_cnt", F.count("*").over(wcnt))
        .withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") <= prefix_len)
        .select(F.col(id_col), "_ng", "_h", "_rk")
    )
    iw = inline_bloom_bits // 64 if inline_bloom_bits else 0
    if iw:
        # per-doc small bloom as iw SEPARATE LONG COLUMNS. r17: built
        # as ONE codegen'd conditional bit_or aggregate over the
        # token explode (map-side partial agg — iw longs per doc
        # cross the wire) instead of r15's iw aggregate-HOF folds
        # over the persisted gram arrays: the folds evaluated
        # element-at-a-time OUTSIDE whole-stage codegen (iw full
        # passes per doc = |grams|·iw interpreted CASE evals, ~11M
        # at sf0.1) and their spliced CASE strings were the bulk of
        # a 600 KB analyzed plan. Words are bit-identical: bit_or of
        # the same per-gram masks, with the never-hit-word NULL
        # coalesced to the fold's 0 (NULL would poison the join
        # filter and silently DROP pairs — the screen must stay
        # lossless).
        bit_i = F.pmod(F.col("_h"), F.lit(inline_bloom_bits)).cast("int")
        sb = (
            tok.select(
                F.col(id_col),
                F.shiftright(bit_i, 6).alias("_w"),
                F.expr(
                    "shiftleft(CAST(1 AS BIGINT), "
                    f"CAST(pmod(_h, {inline_bloom_bits}) AS INT) & 63)"
                ).alias("_m"),
            )
            .groupBy(id_col)
            .agg(
                *[
                    F.coalesce(
                        F.expr(f"bit_or(CASE WHEN _w = {j} THEN _m END)"),
                        F.lit(0).cast("long"),
                    ).alias(f"_s{j}")
                    for j in range(iw)
                ]
            )
        )
        pref = pref.join(sb, id_col)
    # the prefix relation feeds BOTH sides of the self-join; persist
    # it so the corpus-wide freq-join + window chain (the operator's
    # single biggest stage at sf10) runs once, not once per side
    pref = track(pref.persist(StorageLevel.MEMORY_AND_DISK))
    a = pref.select(
        F.col(id_col).alias("_ida"),
        F.col("_ng").alias("_nga"),
        F.col("_rk").alias("_rka"),
        "_h",
        *[F.col(f"_s{j}").alias(f"_sa{j}") for j in range(iw)],
    )
    b = pref.select(
        F.col(id_col).alias("_idb"),
        F.col("_ng").alias("_ngb"),
        F.col("_rk").alias("_rkb"),
        "_h",
        *[F.col(f"_s{j}").alias(f"_sb{j}") for j in range(iw)],
    )
    # alpha = ceil(t/(1+t) * (|A|+|B|)), computed with a DOWNWARD
    # guard of s*1e-9: the double t/(1+t) can land ABOVE the exact
    # rational (0.8/1.8 does), and at sums where the exact product
    # is an integer the unguarded ceil comes out ONE TOO HIGH —
    # measured at na+nb=63 for t=0.8 (alpha 29 vs true 28), which
    # would silently DROP a qualifying pair with intersection
    # exactly 28 (J = 28/35 = 0.8). The guard is ~1e6x the double
    # error and < 1 for any realistic sum, so it can only ever
    # ADMIT an extra candidate (harmless — exact verify follows),
    # never lose one. Caught by boundary analysis, not the gate:
    # the tested corpora had no pair sitting exactly on the bound.
    ssum = F.col("_nga") + F.col("_ngb")
    alpha = F.ceil(
        F.lit(threshold / (1.0 + threshold)) * ssum
        - ssum * F.lit(1e-9)
    )

    def _inline_bloom_pass(iw: int, alpha: Column) -> Column:
        if not iw:
            return F.lit(True)
        neg1 = F.lit(-1).cast("long")

        def diff(pa: str, pb: str) -> Column:
            terms = [
                F.bit_count(
                    F.col(f"{pa}{j}").bitwiseAND(
                        F.col(f"{pb}{j}").bitwiseXOR(neg1)
                    )
                )
                for j in range(iw)
            ]
            out = terms[0]
            for t in terms[1:]:
                out = out + t
            return out

        return (
            F.least(
                F.col("_nga") - diff("_sa", "_sb"),
                F.col("_ngb") - diff("_sb", "_sa"),
            )
            >= alpha
        )

    cand = (
        a.join(b, "_h")
        .filter(
            (F.col("_ida") < F.col("_idb"))
            # size filter: J >= t forces t <= |A|/|B| <= 1/t. Both
            # bounds carry the rounding guard (downward on the ceil,
            # UPWARD on the floor): at e.g. t=0.54, nga=450 the
            # unguarded ceil(243.00000000000003)=244 would reject the
            # qualifying containment pair (243, 450) with J exactly
            # 0.54. Guards only ever ADMIT extra candidates.
            & (
                F.col("_ngb")
                >= F.ceil(
                    F.lit(threshold) * F.col("_nga")
                    - F.col("_nga") * F.lit(1e-9)
                )
            )
            & (
                F.col("_ngb")
                <= F.floor(
                    F.col("_nga") / F.lit(threshold)
                    + F.col("_nga") * F.lit(1e-9)
                )
            )
            # positional filter (PPJoin): remaining-overlap bound at
            # this match must reach the required overlap alpha
            & (
                F.least(
                    F.col("_nga") - F.col("_rka"),
                    F.col("_ngb") - F.col("_rkb"),
                )
                + F.lit(1)
                >= alpha
            )
            # inline bloom screen: same sound difference bound as the
            # 2048-bit stage, but per ENUMERATED row inside this
            # stage's codegen — plain-long bit_count terms, no HOF,
            # no exchange upstream of it
            & _inline_bloom_pass(iw, alpha)
        )
        # sizes ride along (functionally dependent on the ids, so
        # distinct cardinality is unchanged) — the bloom stage's
        # required-overlap needs them without another join
        .select(
            F.col("_ida").alias("id1"),
            F.col("_idb").alias("id2"),
            "_nga",
            "_ngb",
        )
        .distinct()
    )
    # The candidate relation is consumed by every downstream stage —
    # persist it so the enumeration join runs ONCE, and count it (a
    # one-scalar model-relation collect, the centroid-collect policy)
    # to pick the verify stage's PHYSICAL shape: by design candidates
    # are screen-output sized, and when they are (<= _CAND_SMALL),
    # the needed-doc id list broadcasts, so the corpus-sized gram
    # relation is never shuffled to serve them — the r14 verify
    # sort-merged the full 1.1 GB array relation TWICE at sf10 to
    # score 25,600 pairs (~80 of 129 s). An adversarial corpus that
    # defeats the screens falls back to the sort-merge shape.
    cand = track(cand.persist(StorageLevel.MEMORY_AND_DISK))
    try:
        n_cand = cand.count()
    except Exception:
        # this count is the eager stage documented in the docstring;
        # if it dies, don't leave the three persisted relations
        # cached for the session to evict later
        for rel in (cand, pref, g):
            rel.unpersist()
        raise
    if n_cand <= _CAND_SMALL:
        need = (
            cand.select(F.col("id1").alias(id_col))
            .union(cand.select(F.col("id2").alias(id_col)))
            .distinct()
        )
        gsrc = track(
            g.join(F.broadcast(need), id_col)
            .persist(StorageLevel.MEMORY_AND_DISK)
        )
    else:
        gsrc = g
    if bloom_bits:
        nwords = (bloom_bits + 63) // 64
        # Wide blooms for needed docs only (gsrc is the broadcast-
        # pruned relation when candidates are small — r15; the r14
        # shape exploded ALL docs corpus-wide to serve ~10% of them).
        # r17: same conditional-bit_or aggregate as the inline screen
        # above — one codegen'd pass over the needed docs' gram
        # explode instead of nwords interpreted aggregate-HOF folds
        # (whose spliced CASE strings dominated the analyzed plan).
        # The groupBy exchange ships nwords longs per NEEDED doc
        # after map-side partial aggregation.
        wbit = F.pmod(F.col("_h"), F.lit(bloom_bits)).cast("int")
        blooms = (
            gsrc.select(F.col(id_col), F.explode("_g").alias("_h"))
            .select(
                F.col(id_col),
                F.shiftright(wbit, 6).alias("_w"),
                F.expr(
                    "shiftleft(CAST(1 AS BIGINT), "
                    f"CAST(pmod(_h, {bloom_bits}) AS INT) & 63)"
                ).alias("_m"),
            )
            .groupBy(id_col)
            .agg(
                *[
                    F.coalesce(
                        F.expr(f"bit_or(CASE WHEN _w = {j} THEN _m END)"),
                        F.lit(0).cast("long"),
                    ).alias(f"_b{j}")
                    for j in range(nwords)
                ]
            )
            .select(
                F.col(id_col),
                F.array(
                    *[F.col(f"_b{j}") for j in range(nwords)]
                ).alias("_bl"),
            )
        )

        def _diff_lb(a: str, b: str) -> Column:
            # sound lower bound on |set(a) \ set(b)|: bits set by a
            # and untouched by b (collisions only shrink it)
            return F.aggregate(
                F.zip_with(
                    a,
                    b,
                    lambda x, y: F.bit_count(
                        x.bitwiseAND(y.bitwiseXOR(F.lit(-1).cast("long")))
                    ),
                ),
                F.lit(0),
                lambda acc, c: acc + c,
            )

        ssum2 = F.col("_nga") + F.col("_ngb")
        alpha2 = F.ceil(
            F.lit(threshold / (1.0 + threshold)) * ssum2
            - ssum2 * F.lit(1e-9)
        )
        cand = (
            cand.join(
                blooms.select(
                    F.col(id_col).alias("id1"), F.col("_bl").alias("_b1")
                ),
                "id1",
            )
            .join(
                blooms.select(
                    F.col(id_col).alias("id2"), F.col("_bl").alias("_b2")
                ),
                "id2",
            )
            .filter(
                F.least(
                    F.col("_nga") - _diff_lb("_b1", "_b2"),
                    F.col("_ngb") - _diff_lb("_b2", "_b1"),
                )
                >= alpha2
            )
        )
    cand = cand.select("id1", "id2")
    g1 = gsrc.select(F.col(id_col).alias("id1"), F.col("_g").alias("_g1"))
    g2 = gsrc.select(F.col(id_col).alias("id2"), F.col("_g").alias("_g2"))
    ver = (
        cand.join(g1, "id1")
        .join(g2, "id2")
        .select(
            "id1",
            "id2",
            F.size(F.array_intersect("_g1", "_g2")).alias("_i"),
            F.size("_g1").alias("_la"),
            F.size("_g2").alias("_lb"),
        )
    )
    jac = F.round(
        F.col("_i").cast("double")
        / (F.col("_la") + F.col("_lb") - F.col("_i")).cast("double"),
        6,
    )
    return ver.select("id1", "id2", jac.alias(f"jaccard{n}")).filter(
        F.col(f"jaccard{n}") >= threshold
    )


# The two star-contraction phases and the convergence test of
# connected_components, each as ONE SQL statement (see the loop-body
# comment in connected_components for why SQL instead of chained
# DataFrame ops). The `und` CTE is the undirected edge relation with
# ONE explicit hash exchange on u, shared by the groupBy-min and the
# re-attachment join; `mins` is m(u) = min(N(u) + {u}).
_CC_LARGE_STAR_SQL = """
WITH und AS (
  SELECT /*+ REPARTITION(u) */ u, v FROM (
    SELECT hi AS u, lo AS v FROM {e}
    UNION ALL
    SELECT lo AS u, hi AS v FROM {e}
  )
),
mins AS (SELECT u, least(u, min(v)) AS m FROM und GROUP BY u)
SELECT DISTINCT v AS hi, m AS lo
FROM und JOIN mins USING (u)
WHERE v > u AND v != m
"""

_CC_SMALL_STAR_SQL = """
WITH und AS (
  SELECT /*+ REPARTITION(u) */ u, v FROM (
    SELECT hi AS u, lo AS v FROM {ls}
    UNION ALL
    SELECT lo AS u, hi AS v FROM {ls}
  )
),
mins AS (SELECT u, least(u, min(v)) AS m FROM und GROUP BY u)
SELECT DISTINCT hi, lo FROM (
  SELECT v AS hi, m AS lo FROM und JOIN mins USING (u) WHERE v <= u
  UNION ALL
  SELECT u AS hi, m AS lo FROM mins
) WHERE hi != lo
"""

_CC_VIOLATION_SQL = """
SELECT n FROM (
  SELECT n, sum(ih) AS dh, max(il) AS al FROM (
    SELECT hi AS n, 1 AS ih, 0 AS il FROM {ss}
    UNION ALL
    SELECT lo AS n, 0 AS ih, 1 AS il FROM {ss}
  ) GROUP BY n
) WHERE dh > 1 OR (dh >= 1 AND al = 1)
"""


def connected_components(pairs: DataFrame, max_iter: int = 20) -> DataFrame:
    """Connected components over an undirected pair relation via
    alternating large-star / small-star contraction (Kiveris,
    Lattanzi, Mirrokni, Rastogi & Vassilvitskii, SoCC'14 "Connected
    components in MapReduce and beyond") — the exact grouping for
    near-duplicate clusters (the single-pass keep-lowest rule in
    curation only approximates this; transitive chains A~B~C need
    the fixpoint).

    Per round, two phases over the current edge set E:

    - large-star(u): every neighbor v > u re-attaches to
      m = min(N(u) ∪ {u}) — hooks high nodes downward.
    - small-star(u): every neighbor v <= u, and u itself, attaches
      to m — contracts the low side into the local minimum.

    The fixpoint is a forest of stars whose centers are each
    component's MIN node id, reached in O(log n) rounds REGARDLESS
    of component diameter. That diameter independence is why this
    replaced the previous min-label-propagation + pointer-jump loop
    (r11): label flooding travels O(1) hops per round, so a 457-node
    near-tree component in the sparse mutual-kNN graph needed 40+
    rounds (466 s at sf0.1) where star contraction needs ~6. A kNN
    or minhash-band graph at 100 TB has exactly those long thin
    chains, so round count — each a full shuffle barrier — is the
    scale cost that matters.

    Each phase is one partial-aggregated min per node + one join +
    one distinct, all on uniformly hashed node ids; the groupBy-min
    and the re-attachment join share ONE explicit exchange on u
    (ReuseExchange), so a phase is 2 shuffles, not 3. Convergence is
    a single aggregate per round — the STAR-FOREST test (each hi has
    exactly one lo, no node is both hi and lo), which is provably
    the fixpoint of both phases under the hi > lo edge invariant —
    rather than the count + anti-join set comparison (r13 shape)
    that also needed one extra full round to observe "unchanged". A
    giant component's root is a hot JOIN key late in the
    contraction, which AQE skew-join splits (plain joins, no
    windows). The driver loop holds only a changed-flag per round.

    Output: (node, component) — component = min node id reachable.

    Each phase's edge set goes through ``cache.truncate_lineage``:
    ``localCheckpoint`` by default, a RELIABLE checkpoint when
    ``$SPARK_GRAFT_CHECKPOINT_DIR`` is set — local checkpoint blocks
    live on executors, so one lost executor aborts a long iterative
    job; reliable checkpoint survives it. Checkpointing per phase
    also cuts the doubling lineage (each phase reads its predecessor
    twice: the undirected union)."""
    spark = pairs.sparkSession

    def _ckpt(df: DataFrame) -> DataFrame:
        # lazy (eager=False): each round's checkpoint materializes
        # inside that round's convergence-test job, not as an extra
        # job here.
        return truncate_lineage(df, eager=False)

    # The pair relation is consumed TWICE — the initial edge set here
    # and the node universe for the final label join — and callers
    # hand it in as a LAZY plan (q160's is the entire mutual-kNN
    # build). Persist the two-column projection once so the upstream
    # lineage runs once, not twice: at sf10 the un-persisted double
    # build was ~39 s of the probe's 83 s — HALF the query, dwarfing
    # the contraction rounds themselves.
    ids = track(
        pairs.select(F.col("id1").alias("_i1"), F.col("id2").alias("_i2"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )

    edges = _ckpt(
        ids.select(
            F.greatest(F.col("_i1"), F.col("_i2")).alias("hi"),
            F.least(F.col("_i1"), F.col("_i2")).alias("lo"),
        )
        .filter(F.col("hi") != F.col("lo"))
        .distinct()
    )

    converged = False
    for _ in range(max_iter):
        # Each phase is ONE spark.sql call rather than the ~15-op
        # DataFrame chain it used to be: the fixpoint loop's cost at
        # local/suite scale is DRIVER-side construction+analysis
        # (measured ~0.6 s/round for the chained form vs ~0.13 s of
        # actual execution; each PySpark transformation is an eagerly
        # analyzed py4j round-trip at 5-40 ms), and one SQL statement
        # is parsed+analyzed once (~0.33 s/round measured, plan and
        # rows IDENTICAL — same Exchange count, same REPARTITION(u)
        # placement, verified node-for-node). The `und`/`mins` CTEs
        # keep the shape of the old _undirected/_star_min helpers:
        # one explicit hash exchange on u shared by the groupBy-min
        # and the re-attachment join — 2 exchanges per phase.
        # large-star: (v, m(u)) for v in N(u), v > u
        ls = _ckpt(spark.sql(_CC_LARGE_STAR_SQL, e=edges))
        # small-star: (v, m(u)) for v in N(u) + {u}, v <= u
        ss = _ckpt(spark.sql(_CC_SMALL_STAR_SQL, ls=ls))
        # STAR-FOREST fixpoint test, one aggregate job (replaces the
        # r13 count + anti-join pair AND the redundant final round
        # the old ss==edges comparison needed to observe "unchanged").
        # Every edge keeps hi > lo by construction (large-star emits
        # (v, m) with v > u >= m; small-star emits (v, m) with
        # m = min(N(u)+{u}) <= v; both drop hi == lo), and the edge
        # set is distinct, so ss is a fixpoint of BOTH phases iff it
        # is a two-level star forest:
        #   (a) each hi has exactly one lo (sum of hi-flags == 1), and
        #   (b) no node is both an hi and a lo (a root is never a
        #       leaf).
        # On such a forest every star center is the minimum of its
        # star (center < each leaf), so large-star re-attaches every
        # leaf to its center and small-star re-emits (leaf, center) —
        # both phases are identity, which is exactly the loop's old
        # stopping condition one round later. Conversely a fixpoint
        # of the round IS such a forest (Kiveris et al. SoCC'14,
        # Thm 5.1), so the tests stop at the same edge set.
        same = spark.sql(_CC_VIOLATION_SQL, ss=ss).isEmpty()
        # the isEmpty above materialized ss's checkpoint, so nothing
        # reads the previous round's blocks again. NOTE: on a
        # localCheckpoint-backed DataFrame unpersist() is a no-op
        # (the blocks are not registered with the cache manager);
        # actual reclamation is deferred to the ContextCleaner once
        # the previous round's DataFrames go out of scope below —
        # acceptable because each round's edge set only shrinks.
        ls.unpersist()
        edges.unpersist()
        edges = ss
        if same:
            converged = True
            break
    if not converged:
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} rounds "
            "(star contraction needs O(log n) — this graph would need "
            "a higher max_iter); returning partial labels would "
            "silently split clusters."
        )
    nodes = (
        ids.select(F.col("_i1").alias("node"))
        .union(ids.select(F.col("_i2").alias("node")))
        .distinct()
    )
    labels = nodes.join(
        edges.select(
            F.col("hi").alias("node"), F.col("lo").alias("component")
        ),
        "node",
        "left",
    ).select(
        "node",
        F.coalesce(F.col("component"), F.col("node")).alias("component"),
    )
    return labels

def collapse_neardup_best(
    labels: DataFrame,
    scored: DataFrame,
    id_col: str = "doc_id",
    score_col: str = "quality",
) -> DataFrame:
    """Near-dup cluster collapse, keep-best-member: given component
    labels from ``connected_components`` (node, component) and a
    per-document score relation, pick each cluster's highest-scoring
    member (ties -> lowest id) as the survivor — the curation step
    after clustering: "of these N near-identical pages, keep the
    best-written one" rather than the arbitrary min-id.

    Scale: one equi-join on the doc id (labels are |clustered docs|,
    usually a small fraction of the corpus; AQE broadcasts when
    small), then ONE partial-agged max-struct groupBy on component —
    no window sort, no second pass. Returns (component, keep_id,
    best_<score_col>, n_members).
    """
    m = labels.join(
        scored.select(
            F.col(id_col).alias("node"), F.col(score_col).alias("_score")
        ),
        "node",
    )
    # argmax via struct ordering: (score asc, -id asc) so max() lands
    # on highest score, lowest id on ties. Single aggregate — the
    # max_by(x, y) pair form needs two agg buffers and loses the
    # deterministic tiebreak.
    best = F.max(
        F.struct(F.col("_score").alias("s"), (-F.col("node")).alias("nid"))
    )
    return (
        m.groupBy("component")
        .agg(best.alias("_b"), F.count("*").alias("n_members"))
        .select(
            "component",
            (-F.col("_b.nid")).alias("keep_id"),
            F.col("_b.s").alias(f"best_{score_col}"),
            "n_members",
        )
    )


def cross_group_gram_overlap(
    df: DataFrame,
    text_col: str,
    group_col: str,
    n: int = 16,
    max_mask_groups: int = 64,
) -> DataFrame:
    """Cross-source duplication matrix: for every pair of groups
    (sources/datasets/snapshots), the number of distinct character
    ``n``-gram hashes present in BOTH — the measurement behind "how
    much does dataset A repeat dataset B", which drives dedup-order
    and mixing decisions when assembling a training corpus.

    Scale shape (<= ``max_mask_groups`` groups, the bitmask path):
    one cheap pre-pass reads ONLY the group column (columnar scan +
    tiny distinct) to assign each group a bit; per-doc distinct grams
    explode (narrow, hashed once) with mask = 1 << bit -> ONE shuffle
    on the gram hash computing bit_or(mask) per gram — a plain long
    aggregate that stays in whole-stage codegen (the collect_set
    formulation this replaced falls out to ObjectHashAggregate) ->
    groupBy(mask).count() collapses |distinct grams| rows to
    <= 2^|groups| (in practice a few hundred) BEFORE any pair
    fan-out -> the C(|groups|, 2) pair expansion runs over that tiny
    relation via a literal pair array. Never a doc-level self-join;
    the heavy stages never materialize a pair.

    Above ``max_mask_groups`` (web-domain cardinality) the mask no
    longer fits a long; falls back to distinct (group, gram) rows +
    a gram-keyed self-join — same result, pairwise-join cost.
    """
    from ulh_etl_spark.operators.text import char_ngrams, gram_hash64

    # The gram explode + map-side bit_or partial agg is the corpus
    # pass; a 1-split input runs it on one core (conditional fan-out
    # — no-op at real scale; the group-inventory collect below pays
    # one extra tiny exchange).
    df = _fan_out(df)

    def explode_grams(frame, *keep):
        return frame.select(
            *keep,
            F.explode_outer(
                F.array_distinct(
                    F.transform(
                        char_ngrams(F.col(text_col), n),
                        lambda g: gram_hash64(g),
                    )
                )
            ).alias("_g"),
        ).filter(F.col("_g").isNotNull())

    # Group inventory: bounded by |groups|; reads one column (parquet
    # prunes to it), so at 100 TB it is metadata-cheap next to the
    # gram pipeline it gates. NULL groups get no bit (mask 0) and so
    # drop out of the pair join — same semantics as the earlier
    # collect_set formulation on dirty data.
    groups = sorted(
        r[0]
        for r in df.select(F.col(group_col)).distinct().collect()
        if r[0] is not None
    )
    if len(groups) > max_mask_groups:
        gg = explode_grams(df.withColumn("_grp", F.col(group_col)), "_grp").distinct()
        a, b = gg.alias("a"), gg.alias("b")
        return (
            a.join(
                b,
                (F.col("a._g") == F.col("b._g"))
                & (F.col("a._grp") < F.col("b._grp")),
            )
            .groupBy(
                F.col("a._grp").alias("src_a"), F.col("b._grp").alias("src_b")
            )
            .agg(F.count("*").alias("shared_grams"))
        )

    # Mask assigned ONCE PER DOCUMENT, before the gram explode — the
    # |groups|-branch lookup must never run per gram row (measured:
    # evaluating it post-explode cost more than the collect_set it
    # replaced).
    # Bit 63 (the 64th group) must be encoded as its two's-complement
    # long value: F.lit(1 << 63) = 2^63 overflows signed long, so map
    # it to -2^63 — bit_or / bitwiseAND semantics are identical on the
    # signed representation.
    def _bit(i: int) -> int:
        v = 1 << i
        return v - (1 << 64) if v >= (1 << 63) else v

    mask_expr = F.lit(0).cast("long")
    for i, g in enumerate(groups):
        mask_expr = F.when(
            F.col(group_col) == F.lit(g), F.lit(_bit(i)).cast("long")
        ).otherwise(mask_expr)
    masks = (
        explode_grams(df.withColumn("_m", mask_expr), "_m")
        .groupBy("_g")
        .agg(F.bit_or("_m").alias("_mask"))
        .groupBy("_mask")
        .count()
    )
    # Pair expansion as a broadcast nested-loop join against the
    # C(|groups|, 2)-row pair table — fully codegen. (A literal-array
    # explode+filter was tried first: Catalyst does not constant-fold
    # the 190-struct CreateArray, so it rebuilt the array per mask row
    # in an interpreted Generate — 2x the whole query's cost.)
    pair_rows = [
        (groups[i], groups[j], _bit(i) | _bit(j))
        for i in range(len(groups))
        for j in range(i + 1, len(groups))
    ]
    pairs = local_frame(
        df.sparkSession, pair_rows, "src_a string, src_b string, _bits long"
    )
    return (
        masks.join(
            F.broadcast(pairs),
            F.col("_mask").bitwiseAND(F.col("_bits")) == F.col("_bits"),
        )
        .groupBy("src_a", "src_b")
        .agg(F.sum("count").alias("shared_grams"))
    )


def simhash_table(df: DataFrame, text_col: str, id_col: str, bits: int = 16) -> DataFrame:
    """SimHash via explode -> hash-once -> one aggregation.

    For each bit b: sum +1/-1 over tokens by the token-hash's bit b;
    fingerprint bit b is set iff the sum is strictly positive.
    Same rationale as minhash_signatures: exploding tokens hashes each
    token once (an expression form re-hashes the token array once per
    bit); all ``bits`` signed sums compute in a single
    partial-aggregated groupBy, then one projection packs the
    fingerprint. Output column: ``simhash{bits}``.
    """
    toks = whitespace_tokens(F.col(text_col))
    # explode_outer, not explode: a token-less document (empty or
    # whitespace-only text) must survive as a null-token row so its
    # per-bit sums come out negative and it lands at simhash=0 —
    # matching the SQL oracle (NULL sum -> bit unset).
    # Plain explode would silently drop such documents.
    exploded = df.select(F.col(id_col), F.explode_outer(toks).alias("_tok"))
    hashed = exploded.select(F.col(id_col), md5_hash32(F.col("_tok")).alias("_h"))
    sums = [
        F.sum(
            F.when(F.shiftright(F.col("_h"), b).bitwiseAND(F.lit(1)) == 1, F.lit(1))
            .otherwise(F.lit(-1))
        ).alias(f"_s{b}")
        for b in range(bits)
    ]
    agged = hashed.groupBy(id_col).agg(*sums)
    acc = F.lit(0).cast("long")
    for b in range(bits):
        acc = acc + F.when(F.col(f"_s{b}") > 0, F.lit(1 << b)).otherwise(F.lit(0))
    return agged.select(F.col(id_col), acc.alias(f"simhash{bits}"))


def duplicate_gram_stats(df, text_col: str, id_col: str, n: int = 16):
    """Per-document duplicated-span signal — the exact-substring-dedup
    family (Lee et al. 2022, "Deduplicating Training Data Makes
    Language Models Better") at character-``n``-gram granularity: for
    each doc, the fraction of its DISTINCT n-gram hashes that occur in
    at least one other document. High fraction = boilerplate /
    memorization risk; the per-doc number is what a filtering
    threshold consumes (pairwise near-dup ops answer a different
    question: WHICH docs collide).

    Scale: distinct-gram explode (narrow) -> doc-frequency as a
    COUNT OVER (PARTITION BY gram hash) window -> per-doc aggregate.
    The window formulation (round 6) replaces freq-groupBy +
    join-back: one exchange on the gram hash instead of the join's
    two plan legs (ReuseExchange already deduped the md5 evaluation,
    so the measured win is the dropped SMJ sort+probe: 3.40 -> 3.13 s
    at sf0.1, both within 1.4x of the 2.34 s bare gram-pipeline
    floor — per-position md5 dominates, kept for oracle parity).
    A boilerplate gram present in every doc makes one window group
    |docs| rows wide, but that exact skew sat on the old join key
    too — same hazard class. Never all-pairs, never a full-document
    self-join.
    """
    from pyspark.sql import Window

    from ulh_etl_spark.operators.text import char_ngrams, gram_hash64

    # The per-position gram hash explode dominates (the 2.34 s floor
    # above); a 1-split input runs it on one core — conditional
    # fan-out (r17 probe: q94 1.35 s -> 0.42 s). No-op at real scale.
    df = _fan_out(df)
    grams = df.select(
        F.col(id_col),
        # explode_outer + isnotnull: see SCALE.md (InferFiltersFrom-
        # Generate would re-run the gram+hash pipeline in a pushed
        # per-row filter with plain explode).
        F.explode_outer(
            F.array_distinct(
                F.transform(
                    char_ngrams(F.col(text_col), n),
                    lambda g: gram_hash64(g),
                )
            )
        ).alias("_g"),
    ).filter(F.col("_g").isNotNull())
    # grams are per-doc distinct, so a plain count IS the doc frequency
    return (
        grams.withColumn("_docs", F.count("*").over(Window.partitionBy("_g")))
        .groupBy(id_col)
        .agg(
            F.count("*").alias("n_grams"),
            F.sum((F.col("_docs") > 1).cast("long")).alias("n_dup_grams"),
        )
        .select(
            id_col,
            "n_grams",
            "n_dup_grams",
            F.round(F.col("n_dup_grams") / F.col("n_grams"), 6).alias("dup_frac"),
        )
    )


def _delete1(v):
    """All single-character deletions of a string Column (empty array
    for the empty string). Pure JVM expression: sequence + transform
    + Column.substr — no Python hop."""
    return F.when(F.length(v) <= 0, F.array().cast("array<string>")).otherwise(
        F.transform(
            F.sequence(F.lit(1), F.length(v)),
            lambda i: F.concat(
                v.substr(F.lit(1), i - F.lit(1)),
                v.substr(i + F.lit(1), F.length(v) - i),
            ),
        )
    )


def _deletion_variants(col, d: int):
    """The symmetric-delete neighborhood: every string obtainable
    from ``col`` by deleting UP TO ``d`` characters (FastSS /
    SymSpell index key set). |N_d(s)| = sum_{k<=d} C(len, k)."""
    variants = F.array(col)
    frontier = F.array(col)
    for _ in range(d):
        frontier = F.array_distinct(F.flatten(F.transform(frontier, _delete1)))
        variants = F.array_union(variants, frontier)
    return variants


def levenshtein_link_pairs(
    df,
    id_col: str,
    text_col: str,
    block_col: str,
    max_distance: int = 1,
):
    """Record-linkage candidate pairs (entity resolution): within each
    blocking-key group, every id pair (unique ids assumed) whose
    ``text_col`` values are within ``max_distance`` edits (exact JVM
    levenshtein verify). Returns (id1, id2, distance).

    Candidate generation for ``max_distance`` <= 2 is symmetric-delete
    blocking (FastSS / SymSpell): lev(a, b) <= d guarantees a and b
    share at least one common <= d-deletion variant (each edit costs
    at most one deletion on each side), so each side explodes to its
    N_d neighborhood and the join key is (block, variant) — exactness
    preserved, with the exact levenshtein filter killing the rare
    colliding non-pair (e.g. "ab"/"ba" share "b" at lev 2).

    Why not block on the raw key alone: a coarse block (25 nations)
    leaves candidate volume at n^2/25 — still quadratic in corpus
    size. And a length-band composite key dies on fixed-format keys
    (every TPC-H c_name is 18 chars). A (block, variant) bucket
    instead only collects records within 2d edits of each other
    (triangle inequality through the shared variant), so candidate
    volume is O(sum near-dup-family^2 x C(L, d)) — LINEAR in corpus
    size for bounded family sizes, at an index fan-out of
    sum_{k<=d} C(L, k) rows per record (L+1 at d=1). That is the
    trade every production spell/ER index (SymSpell) makes. One
    shuffle on (block, variant); a hot bucket is a genuine
    duplicate family, i.e. proportional to real output.

    ``max_distance`` >= 3 falls back to the plain blocked self-join
    (neighborhood fan-out C(L, 3)+ stops paying for itself); keep
    blocks fine-grained there."""
    if max_distance < 0:
        raise ValueError("max_distance must be >= 0")

    # The deletion-variant explode (L+1 strings per record at d=1)
    # is the heavy map; a 1-split input runs both sides of it on one
    # core — conditional fan-out (r17 probe: q126 1.07 s -> 0.48 s).
    df = _fan_out(df)

    def _side(idc, tc):
        return df.select(
            F.col(block_col).alias("_blk"),
            F.col(id_col).alias(idc),
            F.col(text_col).alias(tc),
        ).filter(F.col(tc).isNotNull())

    a, b = _side("id1", "_t1"), _side("id2", "_t2")
    if max_distance <= 2:
        a = a.withColumn(
            "_v", F.explode(_deletion_variants(F.col("_t1"), max_distance))
        )
        b = b.withColumn(
            "_v", F.explode(_deletion_variants(F.col("_t2"), max_distance))
        )
        cands = (
            a.join(b, ["_blk", "_v"])
            .filter(F.col("id1") < F.col("id2"))
            .select("id1", "id2", "_t1", "_t2")
            .distinct()
        )
    else:
        cands = a.join(b, ["_blk"]).filter(F.col("id1") < F.col("id2"))
    return cands.select(
        "id1",
        "id2",
        F.levenshtein("_t1", "_t2").alias("distance"),
    ).filter(F.col("distance") <= max_distance)


def corpus_diff(
    old,
    new,
    text_col: str,
    id_col: str,
):
    """Snapshot diff between two corpus versions (the daily-crawl /
    dataset-release comparison): FULL OUTER join on the id, comparing
    normalized-content fingerprints — status per id is ``added``
    (new only), ``removed`` (old only), ``changed`` (both, different
    fingerprint) or ``unchanged``. The change detector is the same
    md5 fingerprint exact dedup keys on, so 'changed' means content,
    not formatting (normalization strips case/punct/whitespace).

    Scale: each side collapses to (id, fingerprint) BEFORE the join —
    the join moves two narrow columns, never document text; one
    shuffle per side on the id. Returns (id, status, old_fp, new_fp).
    """
    from ulh_etl_spark.operators.text import fingerprint

    o = old.select(
        F.col(id_col), fingerprint(F.col(text_col)).alias("old_fp")
    )
    n = new.select(
        F.col(id_col), fingerprint(F.col(text_col)).alias("new_fp")
    )
    status = (
        F.when(F.col("old_fp").isNull(), F.lit("added"))
        .when(F.col("new_fp").isNull(), F.lit("removed"))
        .when(F.col("old_fp") == F.col("new_fp"), F.lit("unchanged"))
        .otherwise(F.lit("changed"))
    )
    return o.join(n, id_col, "full_outer").select(
        id_col, status.alias("status"), "old_fp", "new_fp"
    )


def greedy_max_coverage(
    df: DataFrame,
    text_col: str,
    id_col: str,
    k: int = 5,
    n: int = 8,
) -> DataFrame:
    """Greedy maximum-coverage data selection (the classic (1-1/e)
    submodular greedy — Nemhauser, Wolsey & Fisher 1978): pick k
    documents one at a time, each maximizing the number of distinct
    n-grams NOT yet covered by the picks so far — the
    facility-location-style "most diverse k docs" primitive behind
    coreset selection and seed-set curation for training mixes.
    Deterministic throughout: gains are integer set sizes, ties
    break on the lowest id, so a SQL replay of the same k rounds is
    an exact oracle. Selection stops early if no remaining document
    adds a single new gram (pure duplicates of the covered union).

    Scale (r16 delta form): ONE corpus-scale groupBy builds the
    initial gains relation (|docs| rows); every later round exploits
    submodularity's bookkeeping identity — a doc's gain drops by
    exactly its overlap with the NEWLY covered grams — so round r
    costs one broadcast-probe scan of the persisted (id, hash)
    relation against the <= |doc grams| newly-covered hashes plus a
    |docs|-row gains merge, instead of re-running the full anti-join
    + groupBy per round (the r15 shape: 5 corpus groupBys, 84.8 s at
    sf10). The gains relation localCheckpoints each round (eager,
    |docs| rows) so lineage stays flat. The argmax collect is 1
    row/round. Never any pairwise relation.

    Internal hash policy: grams compress to gram_hash64 longs
    (hash-invariant counts — the two-hash policy; the oracle counts
    raw grams, identical up to the ~n²/2⁶⁴ collision rate).

    Output: (pick, doc_id, gain, covered_total) — pick is 1-based
    selection order, covered_total the running union size."""
    from pyspark.storagelevel import StorageLevel

    from ulh_etl_spark.cache import track
    from ulh_etl_spark.operators.text import char_ngrams, gram_hash64

    spark = df.sparkSession
    # The gram-hash explode feeding the persisted (id, hash) relation
    # is the corpus pass; conditional fan-out for 1-split inputs
    # (r17 probe: q219 3.17 s -> 2.14 s; no-op at real scale).
    df = _fan_out(df)
    g = (
        df.select(
            F.col(id_col).alias("_id"),
            F.explode(
                F.transform(
                    F.array_distinct(char_ngrams(F.col(text_col), n)),
                    lambda s: gram_hash64(s),
                )
            ).alias("_h"),
        )
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    track(g)
    gains = truncate_lineage(
        g.groupBy("_id").agg(F.count("*").alias("_gain"))
    )
    covered = None  # running union, <= k x |doc grams| rows
    chosen: list = []
    rows = []
    total = 0
    for pick in range(1, k + 1):
        rem = gains
        if chosen:
            rem = rem.filter(~F.col("_id").isin(chosen))
        top = (
            rem.orderBy(F.col("_gain").desc(), F.col("_id").asc())
            .limit(1)
            .collect()
        )
        if not top or top[0]["_gain"] == 0:
            break
        doc, gain = top[0]["_id"], int(top[0]["_gain"])
        total += gain
        rows.append((pick, doc, gain, total))
        chosen.append(doc)
        if pick == k:
            break  # no later round reads the update
        # grams this pick NEWLY covers = its grams minus the covered
        # union so far (equals its current gain rows). Read the ONE
        # picked doc from the source relation, not the exploded g —
        # the id equality pushes into the parquet scan (row-group
        # pruning), where a filter on the persisted 1-gram-per-row
        # relation scans every cached batch.
        new_cov = (
            df.filter(F.col(id_col) == doc)
            .select(
                F.explode(
                    F.transform(
                        F.array_distinct(
                            char_ngrams(F.col(text_col), n)
                        ),
                        lambda s: gram_hash64(s),
                    )
                ).alias("_h")
            )
            .distinct()
        )
        if covered is not None:
            new_cov = new_cov.join(
                F.broadcast(covered), "_h", "left_anti"
            )
        # eager checkpoint: new_cov feeds BOTH this round's delta
        # broadcast and every future round's anti-join — one tiny
        # materialization job beats re-executing the nested
        # doc-read + anti-join plan inside each broadcast build
        # (measured 3.5 vs 4.1 s at sf0.1). covered is then a flat
        # union of materialized blocks — no further checkpoint.
        new_cov = truncate_lineage(new_cov)
        covered = (
            new_cov if covered is None else covered.union(new_cov)
        )
        # submodular delta: every doc's gain drops by its overlap
        # with the newly covered grams — one broadcast-probe scan of
        # g, a tiny groupBy, and a |docs|-row merge
        delta = (
            g.join(F.broadcast(new_cov), "_h")
            .groupBy("_id")
            .agg(F.count("*").alias("_d"))
        )
        gains = truncate_lineage(
            gains.join(delta, "_id", "left")
            .select(
                "_id",
                (
                    F.col("_gain") - F.coalesce(F.col("_d"), F.lit(0))
                ).alias("_gain"),
            )
        )
    id_type = df.schema[id_col].dataType.simpleString()
    return local_frame(
        spark,
        rows,
        f"pick int, doc_id {id_type}, gain bigint, covered_total bigint",
    )
