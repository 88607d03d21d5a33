"""Similarity-search catalog queries over ``embeddings``:
brute-force cosine top-k (baseline), L2 norms, and the IVF scale
path — build, cluster histogram, and probe search, all
oracle-checked (the probe algorithm is deterministic, so the same
IVF written in SQL is an exact oracle)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ulh_etl_spark.cache import track, truncate_lineage

from ulh_etl_spark.operators import similarity as S
from ulh_etl_spark.queries import _oracle_fragments as O
from ulh_etl_spark.operators.fanout import fan_out as _fo
from ulh_etl_spark.session import load_table, local_frame

_N_QUERIES = 5
_K = 10
_N_CENTROIDS = 8
_NPROBE = 2


def q39_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force exact cosine top-10 for the first 5 vectors as
    queries. Queries broadcast; corpus never shuffles for the join."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < _N_QUERIES)
    return S.cosine_topk(emb, queries, k=_K)


def q154_hybrid_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval: reciprocal-rank fusion of a DENSE leg
    (exact cosine top-10 over embeddings — q39's ranking) and a
    LEXICAL leg (distinct-token-overlap top-10 over the same-id
    documents) for the first 5 query ids — the standard two-tower +
    keyword ensemble, rank-based so neither leg's score scale needs
    calibrating (operators.similarity.rrf_fuse, Cormack et al.
    2009). Both legs tie-break on id and fusion ranks on the rounded
    score, so the oracle reproduces the fused ranking exactly."""
    emb = load_table(spark, sf_dir, "embeddings")
    docs = load_table(spark, sf_dir, "documents")
    qv = emb.filter(F.col("vec_id") < _N_QUERIES)
    qd = docs.filter(F.col("doc_id") < _N_QUERIES)
    dense = S.cosine_topk(emb, qv, k=_K).select(
        "query_id", F.col("neighbor_id").alias("item_id"), "rank"
    )
    lex = S.token_overlap_topk(docs, qd, "text", "doc_id", k=_K).select(
        "query_id", "item_id", "rank"
    )
    return S.rrf_fuse([dense, lex], k_const=60, topk=_K)


# log2 discounts for nDCG, computed ONCE driver-side and embedded as
# the SAME double literals in the Spark plan and the oracle SQL — so
# neither engine's log() implementation (not guaranteed bit-identical
# across libm builds) ever runs inside the query.
import math as _math

_NDCG_W = [1.0 / _math.log2(p + 1) for p in range(1, _K + 1)]
# grade cut points sit at the corpus's p99.9/p99/p90 cosine levels
# (max pairwise cosine on the synthetic embeddings is ~0.40) — the
# usual "calibrate the qrels to the score distribution" step
_NDCG_GRADES = ((0.3, 7.0), (0.25, 3.0), (0.16, 1.0))  # (cos6 >=, 2^rel-1)


def q217_ndcg_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ranking-quality evaluation: nDCG@10 of the LEXICAL retrieval
    leg (q154's distinct-token-overlap ranking) against graded
    relevance derived from exact embedding cosine, with the cut
    points taken from ``_NDCG_GRADES`` (>= 0.3 -> gain 7, >= 0.25
    -> 3, >= 0.16 -> 1 on the ROUNDED-to-6 cosine, so the grade
    boundaries are engine-exact; the thresholds sit at the synthetic
    corpus's p99.9/p99/p90 cosine levels since its max pairwise
    cosine is ~0.40) — the eval harness a
    retrieval pipeline runs per release: does the cheap lexical
    stage surface what the dense ground truth says is relevant?
    DCG = sum over positions of (2^rel - 1) / log2(pos + 1); the
    log2 discounts are PRECOMPUTED driver-side and embedded as
    identical double literals in both engines, and both DCG and the
    per-query ideal DCG fold their terms in position order
    (array_sort -> aggregate / list ORDER BY -> list_sum), so the
    floating sums are bit-identical cross-engine.

    Scale: the relevance leg is |corpus| x |queries| narrow rows
    (the cosine_topk contract — queries broadcast, corpus never
    shuffles); the DCG legs run on queries x 10 rows. Output:
    (query_id, dcg, idcg, ndcg), ndcg = 0 where no relevant item
    exists."""
    from pyspark.sql import Window

    emb = load_table(spark, sf_dir, "embeddings")
    docs = load_table(spark, sf_dir, "documents")
    qd = docs.filter(F.col("doc_id") < _N_QUERIES)
    qv = emb.filter(F.col("vec_id") < _N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("_qv")
    )
    lex = S.token_overlap_topk(docs, qd, "text", "doc_id", k=_K)
    gain = F.when(F.col("_c6") >= _NDCG_GRADES[0][0], F.lit(_NDCG_GRADES[0][1]))
    for thr, g in _NDCG_GRADES[1:]:
        gain = gain.when(F.col("_c6") >= thr, F.lit(g))
    gain = gain.otherwise(F.lit(0.0))
    rel = (
        emb.select(
            F.col("vec_id").alias("item_id"), F.col("embedding").alias("_iv")
        )
        .crossJoin(F.broadcast(qv))
        .filter(F.col("item_id") != F.col("query_id"))
        .select(
            "query_id",
            "item_id",
            F.round(S.cosine(F.col("_qv"), F.col("_iv")), 6).alias("_c6"),
        )
        .select("query_id", "item_id", gain.alias("_gain"))
    )
    warr = F.array(*[F.lit(w) for w in _NDCG_W])

    def _fold_dcg(terms: DataFrame, out: str) -> DataFrame:
        return terms.groupBy("query_id").agg(
            F.aggregate(
                F.array_sort(
                    F.collect_list(
                        F.struct(F.col("_p").alias("p"), F.col("_t").alias("t"))
                    )
                ),
                F.lit(0.0),
                lambda acc, x: acc + x["t"],
            ).alias(out)
        )

    dcg = _fold_dcg(
        lex.join(rel, ["query_id", "item_id"], "left").select(
            "query_id",
            F.col("rank").alias("_p"),
            (
                F.coalesce(F.col("_gain"), F.lit(0.0))
                * F.element_at(warr, F.col("rank"))
            ).alias("_t"),
        ),
        "_dcg",
    )
    widl = Window.partitionBy("query_id").orderBy(
        F.col("_gain").desc(), F.col("item_id")
    )
    idcg = _fold_dcg(
        rel.filter(F.col("_gain") > 0)
        .withColumn("_p", F.row_number().over(widl))
        .filter(F.col("_p") <= _K)
        .select(
            "query_id",
            "_p",
            (F.col("_gain") * F.element_at(warr, F.col("_p"))).alias("_t"),
        ),
        "_idcg",
    )
    return (
        dcg.join(idcg, "query_id", "left")
        .select(
            "query_id",
            F.round(F.col("_dcg"), 6).alias("dcg"),
            F.round(F.coalesce(F.col("_idcg"), F.lit(0.0)), 6).alias("idcg"),
            F.when(
                F.coalesce(F.col("_idcg"), F.lit(0.0)) > 0,
                F.round(F.col("_dcg") / F.col("_idcg"), 6),
            )
            .otherwise(F.lit(0.0))
            .alias("ndcg"),
        )
    )


# RBO weights (Webber, Moffat & Zobel, TOIS 2010): truncated
# rank-biased overlap at depth K with persistence p — the weight of
# depth d is (1-p)·p^(d-1), precomputed driver-side like _NDCG_W so
# no pow() runs inside either engine.
_RBO_P = 0.9
_RBO_W = [(1.0 - _RBO_P) * _RBO_P ** (d - 1) for d in range(1, _K + 1)]


def q218_rank_biased_overlap(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Ranker-agreement metric: truncated rank-biased overlap (RBO@10,
    p=0.9) between the DENSE ranking (exact cosine top-10) and the
    LEXICAL ranking (distinct-token-overlap top-10) per query — the
    top-weighted comparison you run when swapping retrieval stages:
    unlike Kendall/Spearman it never needs the full permutation and
    weights the head geometrically, so rank-1 disagreements dominate
    (Webber et al. TOIS 2010). RBO = sum over depths d of
    (1-p)·p^(d-1) · |prefix_d(A) ∩ prefix_d(B)| / d; both engines
    fold depths 1..10 in order over the SAME driver-computed weight
    literals, and the prefix intersections are integer set sizes —
    the whole metric is exact cross-engine.

    Scale: the two ranking legs are the q154 shapes (queries
    broadcast, corpus never shuffles, one top-k window each); the
    RBO fold runs on queries x 1 collected arrays of 10 ids.

    Output: (query_id, rbo, overlap_at_k) — overlap_at_k is the raw
    depth-K agreement |A ∩ B|/K, the un-weighted companion."""
    emb = load_table(spark, sf_dir, "embeddings")
    docs = load_table(spark, sf_dir, "documents")
    qv = emb.filter(F.col("vec_id") < _N_QUERIES)
    qd = docs.filter(F.col("doc_id") < _N_QUERIES)
    dense = S.cosine_topk(emb, qv, k=_K).select(
        "query_id", F.col("neighbor_id").alias("item_id"), "rank"
    )
    lex = S.token_overlap_topk(docs, qd, "text", "doc_id", k=_K).select(
        "query_id", "item_id", "rank"
    )

    def _ranked_array(leg: DataFrame, out: str) -> DataFrame:
        return leg.groupBy("query_id").agg(
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.struct(
                            F.col("rank").alias("r"),
                            F.col("item_id").alias("i"),
                        )
                    )
                ),
                lambda x: x["i"],
            ).alias(out)
        )

    warr = F.array(*[F.lit(w) for w in _RBO_W])
    a = _ranked_array(dense, "_a")
    b = _ranked_array(lex, "_b")
    depth_term = lambda d: (  # noqa: E731
        F.element_at(warr, d)
        * F.size(
            F.array_intersect(
                F.slice(F.col("_a"), 1, d), F.slice(F.col("_b"), 1, d)
            )
        ).cast("double")
        / d.cast("double")
    )
    return (
        a.join(b, "query_id")
        .select(
            "query_id",
            F.round(
                F.aggregate(
                    F.sequence(F.lit(1), F.lit(_K)),
                    F.lit(0.0),
                    lambda acc, d: acc + depth_term(d),
                ),
                6,
            ).alias("rbo"),
            F.round(
                F.size(F.array_intersect("_a", "_b")).cast("double")
                / F.lit(float(_K)),
                6,
            ).alias("overlap_at_k"),
        )
    )


def q155_rerank_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-stage retrieval: q42's IVF probe supplies the candidate
    set (recall stage, partition-prunable at scale), then an
    Arrow-batched cross-encoder RERANK stage scores each (query,
    candidate) TEXT pair and keeps the top 5 (precision stage) —
    the economics of production search: the expensive pairwise model
    touches queries x k rows, never the corpus. The scorer is the
    deterministic md5 stand-in (operators.similarity.
    portable_cross_scorer) so the oracle reproduces the score
    arithmetic; a real cross-encoder drops into the same
    mapInPandas slot. The oracle nests q42's SQL verbatim, so the
    candidate stage stays in lockstep by construction."""
    docs = load_table(spark, sf_dir, "documents")
    candidates = q42_ivf_topk(spark, sf_dir).select(
        "query_id", F.col("neighbor_id").alias("item_id")
    )
    return S.rerank_topk(
        candidates, docs, S.portable_cross_scorer, k=5
    )


def q106_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative mining (DPR recipe): per query, top-10 cosine
    neighbors EXCLUDING its labeled positives (synthetic qrels:
    query_id+100 and query_id+200) — positives must drop before
    ranking so they never occupy a top-k slot. Queries and qrels
    broadcast; the corpus scoring join stays shuffle-free."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < _N_QUERIES)
    pos = queries.select(F.col("vec_id").alias("query_id")).select(
        "query_id",
        F.explode(
            F.array(F.col("query_id") + 100, F.col("query_id") + 200)
        ).alias("pos_id"),
    )
    return S.hard_negatives(emb, queries, pos, k=_K)


def q40_embedding_norms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-vector L2 norm — the normalize step of any ANN build."""
    emb = load_table(spark, sf_dir, "embeddings")
    return emb.select(
        "vec_id",
        "label",
        F.round(S.l2_norm(F.col("embedding")), 6).alias("l2_norm"),
    )


def _centroids(emb: DataFrame) -> DataFrame:
    """Deterministic centroid seed: the first _N_CENTROIDS vectors
    (stand-in for k-means — the IVF mechanics are identical)."""
    return emb.filter(F.col("vec_id") < _N_CENTROIDS).select(
        F.col("vec_id").alias("centroid_id"),
        F.col("embedding").alias("centroid_vec"),
    )


# Within-cell SELF-JOIN queries (q46/q100/the kNN-graph family) must
# grow the cell count with the corpus: a FIXED C leaves cell size
# ∝ N and within-cell pairs ∝ N²/C — measured at 10x sf0.1, q100 ran
# 15.1 s (exponent 0.85) with C=8 vs 3.0 s near-linear with
# C = N/250. Probe-style queries (q42/q86/q96/q119) keep the fixed
# seed: their per-query work is ∝ cell size, and their scale story
# is partition pruning, not pair volume.
#
# The cell-count choice has TWO cost terms — assignment is N·C
# centroid distances, candidate pairs are N·cell_size = N²/C — so
# the sum-balanced choice would be C = sqrt(rN) with r the
# pair:assignment unit-cost ratio. r11 MEASURED that trade: at
# C = sqrt(N) (70 cells at sf0.1 vs 20) q169 ran 8.0 s vs 3.5 s —
# locally r < 1 (one interpreted-HOF centroid distance costs about
# as much as one joined-pair cosine), so N/250 stays optimal until
# N approaches 250² x r⁻¹ per the crossover. Past that, the right
# move is NOT a bigger flat C (the literal-array argmin would pay
# N·C regardless) but a TWO-LEVEL coarse quantizer — sqrt(C) coarse
# cells, then fine argmin within the coarse cell — the standard IVF
# sizing. Documented here so the next scale decade changes the
# assignment STRUCTURE, not this constant.
_TARGET_CELL_SIZE = 250


def _adaptive_centroids(emb: DataFrame) -> DataFrame:
    """Centroid seed sized to the corpus AND following its
    distribution: a vector seeds iff its portable md5 hash falls
    under p = max(1/_TARGET_CELL_SIZE, _N_CENTROIDS/N) — a
    density-proportional uniform sample, so every region gets ~1
    seed per _TARGET_CELL_SIZE vectors REGARDLESS of where the mass
    sits. The r11 sf10 probe showed why distribution-blind seeding
    (previously: the first C vec_ids) fails: corpus drift left one
    cell holding 46% of the corpus (max 91,325 vs avg 250) and
    8.6e9 within-cell candidate pairs. A threshold filter needs no
    global rank window, and the expected seed count N·p reproduces
    the old C = max(_N_CENTROIDS, N/_TARGET_CELL_SIZE) sizing.

    The argmin-(hash, id) vector always seeds — the deterministic
    non-empty guard (P[empty] ~ e^-_N_CENTROIDS would otherwise be a
    silent dataset-shaped landmine).

    LAZY: p and the guard row are one broadcast 1-row aggregate
    inside the returned plan, not a driver-side count() —
    constructing this DataFrame runs no job (the r10 contract); the
    aggregate executes inside ivf_assign's one existing
    centroid-literal collect. The oracle applies the identical
    threshold rule."""
    from ulh_etl_spark.operators.text import md5_hash32

    hcol = md5_hash32(
        F.concat(F.lit("cseed_"), F.col("vec_id").cast("string"))
    )
    stats = emb.select(hcol.alias("_h"), "vec_id").agg(
        F.greatest(
            F.lit(1.0 / _TARGET_CELL_SIZE),
            F.lit(float(_N_CENTROIDS)) / F.count("*").cast("double"),
        ).alias("_p"),
        F.min(F.struct(F.col("_h"), F.col("vec_id"))).alias("_m"),
    )
    return (
        emb.withColumn("_h", hcol)
        .crossJoin(F.broadcast(stats))
        .filter(
            (F.col("_h").cast("double") / F.lit(4294967296.0) < F.col("_p"))
            | (
                (F.col("_h") == F.col("_m._h"))
                & (F.col("vec_id") == F.col("_m.vec_id"))
            )
        )
        .select(
            F.col("vec_id").alias("centroid_id"),
            F.col("embedding").alias("centroid_vec"),
        )
    )


# The oracle twin of _adaptive_centroids: identical hash, identical
# threshold arithmetic (greatest of two doubles), identical
# argmin-(hash, id) guard row.
_ADAPTIVE_SEED_SQL = f"""(
                WITH hh AS (
                    SELECT vec_id, embedding,
                           {O.md5h("'cseed_' || CAST(vec_id AS VARCHAR)")} AS _h
                    FROM embeddings
                ), st AS (
                    SELECT greatest(1.0 / {_TARGET_CELL_SIZE},
                                    CAST({_N_CENTROIDS} AS DOUBLE)
                                    / CAST(COUNT(*) AS DOUBLE)) AS _p
                    FROM hh
                ), gv AS (
                    SELECT _h AS gh, vec_id AS gid FROM hh
                    ORDER BY _h, vec_id LIMIT 1
                )
                SELECT vec_id AS centroid_id, embedding AS centroid_vec
                FROM hh CROSS JOIN st CROSS JOIN gv
                WHERE CAST(_h AS DOUBLE) / 4294967296.0 < _p
                   OR (_h = gh AND vec_id = gid)
            )"""


def q41_ivf_cluster_sizes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF build: nearest-centroid assignment (squared L2,
    deterministic tie-break) then cell histogram. At scale the
    assigned table is written partitionBy(cell) so probes prune."""
    emb = load_table(spark, sf_dir, "embeddings")
    assigned = S.ivf_assign(emb, _centroids(emb))
    return assigned.groupBy("cell").agg(F.count("*").alias("cell_size"))


def q42_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN probe search: nprobe=2 of 8 cells per query, exact cosine
    within probed cells. Approximate relative to brute force, but
    fully deterministic (fixed centroid seed + tie-breaks), so the
    same probe algorithm written in SQL is an exact oracle."""
    emb = load_table(spark, sf_dir, "embeddings")
    cents = _centroids(emb)
    assigned = S.ivf_assign(emb, cents)
    queries = emb.filter(F.col("vec_id") < _N_QUERIES)
    return S.ivf_topk(assigned, cents, queries, k=_K, nprobe=_NPROBE)


_DOT = (
    "list_sum(list_transform(generate_series(1, len(q.q_vec)), "
    "i -> CAST(q.q_vec[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE)))"
)
_NORM_Q = "sqrt(list_sum(list_transform(q.q_vec, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))"
_NORM_E = "sqrt(list_sum(list_transform(e.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))"

_SQDIST = (
    "list_sum(list_transform(generate_series(1, len(e.embedding)), "
    "i -> (CAST(e.embedding[i] AS DOUBLE) - CAST(c.centroid_vec[i] AS DOUBLE))"
    " * (CAST(e.embedding[i] AS DOUBLE) - CAST(c.centroid_vec[i] AS DOUBLE))))"
)

_NEARDUP_THRESHOLD = 0.3  # synthetic embeddings are near-orthogonal
# (max same-cell cosine ~0.49 at sf0.01); 0.3 keeps the top ~1% of
# candidate pairs so the pair-emission + threshold logic is checked
# against non-empty results. Real corpora would use 0.9+.


def q46_embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs, IVF-cell blocked (same-cell
    candidates only, exact cosine >= threshold on candidates) — the
    embedding leg of the dedup suite."""
    emb = load_table(spark, sf_dir, "embeddings")
    return S.embedding_neardup_pairs(
        emb, _adaptive_centroids(emb), threshold=_NEARDUP_THRESHOLD
    )


_KNN_K = 4


def q159_knn_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cell-blocked k-NN graph: every vector's top-4 same-cell
    neighbors by exact cosine (operators.similarity.knn_graph) — the
    candidate-generation step under graph clustering, label
    propagation, and NN-Descent index builds. Adaptive centroids keep
    cell size (and so the candidate relation) bounded as the corpus
    grows; ranking is on the raw double with a neighbor-id tiebreak,
    so the same algorithm in SQL is an exact oracle."""
    emb = load_table(spark, sf_dir, "embeddings")
    return S.knn_graph(emb, _adaptive_centroids(emb), k=_KNN_K)


def q160_semantic_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space cluster report: the MULTI-PROBE kNN graph
    (two-level assigner since r12; q186 keeps the flat baseline —
    each vector's candidates come from its nprobe=6 nearest cells,
    recall@4 0.79 at sf0.1 per q187/q204, recovering the
    boundary-straddling neighbors single-probe q159 drops) ->
    MUTUAL edge filter (i in knn(j) and j in knn(i) —
    strips hub-induced one-way edges, the high-precision core of a
    kNN graph) -> exact connected components (the q75
    pointer-jumping machinery) -> one row per semantic cluster. The
    embedding-side twin of the lexical near-dup clustering: catches
    paraphrase families that share no surface grams. Components is
    O(log diameter) rounds; everything else is one equality join per
    step. (The q169/q170/q175 graph-analytics family deliberately
    stays on the single-probe q159 graph — their subject is the
    graph algorithm, not candidate recall.)"""
    from ulh_etl_spark.operators.dedup import connected_components

    emb = load_table(spark, sf_dir, "embeddings")
    knn = S.knn_graph(
        emb, _adaptive_centroids(emb), k=_KNN_K, nprobe=_KNN_NPROBE,
        two_level=True,
    )
    edges = S.mutual_knn_edges(knn)
    comp = connected_components(edges)
    return comp.groupBy("component").agg(
        F.count("*").cast("bigint").alias("n_members")
    )


# The graph-family probe default. 2 through r13 — which q204's sweep
# priced at recall 0.36@4 (sf0.1) — raised to 6 in r14 once the
# fold-exact scoring kernel made candidates cheap: (2, 6) reads
# recall 0.707@4 off the q204 curve, the CEILING of the
# coarse_nprobe=2 union ((2, 8) buys nothing more; a third/fourth
# coarse group continues the ladder to 0.84/1.0 at 1.5x/2x more
# candidates — consumers that need it pass coarse_nprobe
# explicitly). Every consumer's oracle interpolates this constant,
# so both engines move together.
_KNN_NPROBE = 6
_KNN_AUDIT_Q = 64


def q186_knn_graph_multiprobe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-probe kNN graph: q159's cell-blocked top-k, with each
    vector's candidate pool widened to its nprobe=6 nearest cells
    (operators.similarity.knn_graph(nprobe=_KNN_NPROBE)) — the
    closure of the single-probe recall hole: a true neighbor sitting
    just across the Voronoi boundary is in a near cell far more
    often than in a random one, so probing them recovers most of the
    lost edges for ~6x candidate cost (q187 measures exactly how
    much: 0.23 -> 0.72 mean recall@4 at sf0.01, 0.24 -> 0.79 at
    sf0.1 — the coarse_nprobe=2 union's ceiling per q204's curve;
    nprobe was 2 / recall 0.37 through r13, raised once the
    fold-exact scoring kernel made candidates cheap). Plan shape is
    IDENTICAL to q159 — one shuffle on cell, one rank window — only
    the probe-side row count scales with nprobe."""
    emb = load_table(spark, sf_dir, "embeddings")
    return S.knn_graph(
        emb, _adaptive_centroids(emb), k=_KNN_K, nprobe=_KNN_NPROBE
    )


def q187_knn_recall_uplift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """kNN-graph recall audit (the q86 shape, pointed at q159/q186):
    per audited query, recall@k of the single-probe and the
    multi-probe graph against EXACT brute-force top-k — the
    measurement that justifies the nprobe=6 default feeding q160's
    clusters (recall@4 0.72 at sf0.01 / 0.79 at sf0.1 — the
    coarse_nprobe=2 ceiling) and prices further probes. The brute leg runs on a
    fixed query sample (vec_id < 64), so its cost is |corpus| x 64
    narrow rows — linear in N; both graph legs push the query filter
    below their rank window (partition-key predicate), so each scans
    only the sampled queries' candidate cells.

    Output: (query_id, recall_single, recall_multi); recall_multi
    >= recall_single per query by construction (the probe set always
    contains the own cell), pinned by pytest."""
    emb = load_table(spark, sf_dir, "embeddings")
    cents = _adaptive_centroids(emb)
    queries = emb.filter(F.col("vec_id") < _KNN_AUDIT_Q)
    bf = S.cosine_topk(emb, queries, k=_KNN_K).select(
        "query_id", "neighbor_id"
    )
    # r15: ONE flat assignment pass serves both legs, with the probe
    # side filtered to the audited queries BEFORE the candidate join
    # (operators.similarity.knn_flat_probe_legs) — row-identical to
    # the old two-full-graph build (sf10 ~150 s -> the flat N·C pass
    # once), so the oracle replays unchanged.
    single_g, multi_g = S.knn_flat_probe_legs(
        emb, cents, F.col("vec_id") < _KNN_AUDIT_Q,
        k=_KNN_K, nprobe=_KNN_NPROBE,
    )
    # r16: ONE pass over the brute relation with BOTH hit flags
    # attached (two broadcast left joins against duplicate-free
    # per-leg edge sets), one groupBy computing both recall columns —
    # replacing two bf-streaming legs + a final join. Rows identical.
    flagged = bf
    for name, graph in (("_hit_s", single_g), ("_hit_m", multi_g)):
        knn = graph.select(
            F.col("vec_id").alias("query_id"), "neighbor_id"
        ).withColumn(name, F.lit(1))
        flagged = flagged.join(
            F.broadcast(knn), ["query_id", "neighbor_id"], "left"
        )
    return flagged.groupBy("query_id").agg(
        F.round(
            F.sum(F.coalesce(F.col("_hit_s"), F.lit(0)))
            / F.lit(float(_KNN_K)),
            6,
        ).alias("recall_single"),
        F.round(
            F.sum(F.coalesce(F.col("_hit_m"), F.lit(0)))
            / F.lit(float(_KNN_K)),
            6,
        ).alias("recall_multi"),
    )


def q188_nn_descent(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NN-Descent refinement of the multi-probe kNN graph
    (operators.similarity.nn_descent_round, Dong et al. WWW 2011):
    one neighbors-of-neighbors round over the multi-probe TWO-LEVEL
    seed (r12; q186 keeps the flat baseline). The seed
    MUST carry cross-cell edges for the round to buy anything — from
    the single-probe q159 graph the round is provably a no-op (its
    undirected edges never leave a cell, and in-cell top-k is
    already exhaustive); from the multi-probe seed the pivot hops
    reach cells NEITHER endpoint probed, lifting recall@4 0.63 ->
    0.70 at sf0.01 from the nprobe=6 seed (q189 measures it; from
    the r13 nprobe=2 seed the same round read 0.332 -> 0.383 — a
    better seed leaves the round less to find, exactly the
    diminishing-returns shape q204 prices). Candidate volume is
    degree-bounded
    (<= N(2k)^2 + Nk), never all-pairs; output is the knn_graph
    schema so every downstream graph consumer plugs in unchanged."""
    from pyspark.storagelevel import StorageLevel

    emb = load_table(spark, sf_dir, "embeddings")
    # persist the seed: nn_descent_round references its input graph
    # THREE times (undirected union x2, current-edge union) —
    # unpersisted, each reference re-ran the whole two-level kNN
    # build (cell assignment + rank window).
    seed = track(
        S.knn_graph(
            emb, _adaptive_centroids(emb), k=_KNN_K, nprobe=_KNN_NPROBE,
            two_level=True,
        ).persist(StorageLevel.MEMORY_AND_DISK)
    )
    return S.nn_descent_round(seed, emb, k=_KNN_K)


def q189_nn_descent_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall audit for the NN-Descent round (the q187 shape): per
    audited query, recall@k of the two-level multi-probe seed and the
    q188 refined graph against exact brute force. Refined recall is
    monotone >= seed recall per query by construction — the current
    edges ride in the candidate set, and only true top-k members can
    displace a true top-k member — pinned by pytest. Together with
    q187 this prices the THREE recall levers on one yardstick:
    probe wider (0.23 -> 0.72 for ~6x candidates, the
    coarse_nprobe=2 ceiling), hop farther (0.63 -> 0.70 at sf0.01
    for a degree-bounded round), or widen the coarse union (q204's
    (3,12)/(4,12) legs: 0.84/1.0)."""
    from pyspark.storagelevel import StorageLevel

    emb = load_table(spark, sf_dir, "embeddings")
    cents = _adaptive_centroids(emb)
    queries = emb.filter(F.col("vec_id") < _KNN_AUDIT_Q)
    bf = S.cosine_topk(emb, queries, k=_KNN_K).select(
        "query_id", "neighbor_id"
    )
    # persist the seed: it feeds both its own recall leg and the
    # refinement round — without it the cell join + rank window of
    # the kNN build would execute once per consumer.
    seed = S.knn_graph(
        emb, cents, k=_KNN_K, nprobe=_KNN_NPROBE, two_level=True
    ).persist(StorageLevel.MEMORY_AND_DISK)
    track(seed)
    refined = S.nn_descent_round(seed, emb, k=_KNN_K)
    # r16: ONE pass over the brute relation with BOTH hit flags
    # attached (two broadcast left joins), one groupBy computing both
    # recall columns — replacing two bf-streaming legs + a final
    # join. Values identical: same per-leg indicator sums, same
    # rounding, same (query_id, recall_seed, recall_refined) rows.
    flagged = bf
    for name, g in (("_hit_s", seed), ("_hit_r", refined)):
        hits = (
            g.filter(F.col("vec_id") < _KNN_AUDIT_Q)
            .select(F.col("vec_id").alias("query_id"), "neighbor_id")
            .withColumn(name, F.lit(1))
        )
        flagged = flagged.join(
            F.broadcast(hits), ["query_id", "neighbor_id"], "left"
        )
    return flagged.groupBy("query_id").agg(
        F.round(
            F.sum(F.coalesce(F.col("_hit_s"), F.lit(0)))
            / F.lit(float(_KNN_K)),
            6,
        ).alias("recall_seed"),
        F.round(
            F.sum(F.coalesce(F.col("_hit_r"), F.lit(0)))
            / F.lit(float(_KNN_K)),
            6,
        ).alias("recall_refined"),
    )


_DRIFT_DIMS = 8
_DRIFT_BINS = 4


def q168_embedding_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-distribution drift monitor: PSI per dimension
    between the at-rest snapshot (even vec_ids — the reference) and
    the incoming batch (odd vec_ids), over the 8 leading dims —
    the production check that an encoder change or upstream shift
    hasn't silently moved the embedding distribution that ANN
    indexes and semantic dedup were built on
    (operators.profile.embedding_psi_drift). Bins pivot to columns
    via conditional aggregation, so every float step is a
    fixed-order expression — no float-sum ordering anywhere."""
    from ulh_etl_spark.operators.profile import embedding_psi_drift

    emb = load_table(spark, sf_dir, "embeddings")
    ref = emb.filter(F.col("vec_id") % 2 == 0)
    cur = emb.filter(F.col("vec_id") % 2 == 1)
    return embedding_psi_drift(
        ref, cur, dims=_DRIFT_DIMS, bins=_DRIFT_BINS
    )


def _psi_oracle_sql() -> str:
    """The q168 oracle: identical binning and fixed-order PSI chain."""
    dims, bins = _DRIFT_DIMS, _DRIFT_BINS
    counts = ",\n                   ".join(
        f"CAST(SUM(CASE WHEN snap = {s} AND bin = {b} THEN 1 ELSE 0 END) "
        f"AS BIGINT) AS {tag}{b}"
        for s, tag in ((0, "r"), (1, "c"))
        for b in range(bins)
    )

    def _p(tag: str, b: int, n: str) -> str:
        return (
            f"((CAST({tag}{b} AS DOUBLE) + 1.0) "
            f"/ (CAST({n} AS DOUBLE) + {float(bins)!r}))"
        )

    terms = " + ".join(
        f"({_p('r', b, 'n_ref')} - {_p('c', b, 'n_cur')})"
        f" * ln({_p('r', b, 'n_ref')} / {_p('c', b, 'n_cur')})"
        for b in range(bins)
    )
    return f"""
        WITH expl AS (
            SELECT CAST(vec_id % 2 AS INT) AS snap,
                   CAST(g.i - 1 AS INT) AS dim,
                   CAST(embedding[g.i] AS DOUBLE) AS x
            FROM embeddings CROSS JOIN generate_series(1, {dims}) AS g(i)
        ), bounds AS (
            SELECT dim, MIN(x) AS mn, MAX(x) AS mx
            FROM expl WHERE snap = 0 GROUP BY dim
        ), binned AS (
            SELECT e.dim, e.snap,
                   CAST(CASE WHEN b.mx = b.mn THEN 0
                        ELSE GREATEST(0, LEAST({bins - 1},
                             CAST(FLOOR((e.x - b.mn)
                                  / ((b.mx - b.mn) / {float(bins)!r}))
                                  AS BIGINT)))
                   END AS INT) AS bin
            FROM expl e JOIN bounds b USING (dim)
        ), per AS (
            SELECT dim,
                   {counts}
            FROM binned GROUP BY dim
        ), tot AS (
            SELECT *,
                   {" + ".join(f"r{b}" for b in range(bins))} AS n_ref,
                   {" + ".join(f"c{b}" for b in range(bins))} AS n_cur
            FROM per
        )
        SELECT dim, n_ref, n_cur,
               ROUND(0.0 + {terms}, 6) AS psi
        FROM tot
    """


def q47_kmeans_refined_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One Lloyd iteration over the IVF cells: grouped applyInPandas
    (numpy per-cell mean). One iteration is SQL-expressible, so the
    Python path is oracle-checked exactly; further iterations reuse
    the same verified step."""
    emb = load_table(spark, sf_dir, "embeddings")
    refined = S.kmeans_refine(emb, _centroids(emb), iterations=1)
    return refined.select(
        "centroid_id",
        F.round(S.l2_norm(F.col("centroid_vec")), 6).alias("centroid_norm"),
        F.round(
            F.aggregate(F.col("centroid_vec"), F.lit(0.0), lambda a, x: a + x), 6
        ).alias("centroid_sum"),
    )


# Cosine-LSH (random hyperplane) parameters. Dim is pinned by the
# synthetic embeddings contract (TESTDATA.md); the md5-derived plane
# matrix is identical in Spark (driver-side literals) and the oracle
# (inlined VALUES rows), so signatures hash-match exactly.
_EMB_DIM = 64
_N_PLANES = 16
_ROWS_PER_BAND = 8


def q60_hyperplane_signature(spark: SparkSession, sf_dir: str) -> DataFrame:
    """16-bit random-hyperplane cosine-LSH signature per vector — a
    pure narrow map (plane matrix folded into the expression; no
    shuffle, no join)."""
    emb = load_table(spark, sf_dir, "embeddings")
    return S.hyperplane_signature(emb, _EMB_DIM, num_planes=_N_PLANES)


def q61_hyperplane_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cosine-LSH candidate pairs: 2 bands x 8 bits, equality
    self-join on (band_idx, band_val) — the cosine analog of the
    MinHash LSH join (never all-pairs)."""
    emb = load_table(spark, sf_dir, "embeddings")
    return S.hyperplane_candidate_pairs(
        emb, _EMB_DIM, num_planes=_N_PLANES, rows_per_band=_ROWS_PER_BAND
    )


def q86_ivf_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN quality evaluation: per-query recall@k of the IVF probe
    search against exact brute force — the measurement that sizes
    nprobe for a target recall. Both legs are the engine's own
    operators; the join of two k-row-per-query results is trivially
    small (queries x k rows), so the cost is the two searches
    themselves."""
    emb = load_table(spark, sf_dir, "embeddings")
    cents = _centroids(emb)
    queries = emb.filter(F.col("vec_id") < _N_QUERIES)
    bf = S.cosine_topk(emb, queries, k=_K).select("query_id", "neighbor_id")
    iv = (
        S.ivf_topk(S.ivf_assign(emb, cents), cents, queries, k=_K, nprobe=_NPROBE)
        .select("query_id", "neighbor_id")
        .withColumn("_hit", F.lit(1))
    )
    return (
        # Both legs are (queries x k) rows by construction — broadcast
        # the IVF side so the recall join never sort-merges.
        bf.join(F.broadcast(iv), ["query_id", "neighbor_id"], "left")
        .groupBy("query_id")
        .agg(
            F.round(
                F.sum(F.coalesce(F.col("_hit"), F.lit(0)))
                / F.lit(float(_K)),
                6,
            ).alias("recall_at_k")
        )
    )


def q96_ivf_pruned_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The at-rest IVF path end-to-end: write the index partitioned by
    cell, then probe it — the nprobe cell ids are driver-known, so the
    cell IN-list prunes DIRECTORIES (PartitionFilters in the scan) and
    the probe reads ~nprobe/C of the corpus from listing alone.
    Semantically identical to q42 (same centroids, same tie-breaks),
    so it shares q42's oracle SQL — what q96 adds is the physical
    layout, pinned by the partition-filter check in the plan audit and
    tests/test_plans.py."""
    import tempfile

    emb = load_table(spark, sf_dir, "embeddings")
    cents = _centroids(emb)
    path = tempfile.mkdtemp(prefix="ulh_ivf_index_")
    S.write_ivf_index(S.ivf_assign(emb, cents), path)
    queries = emb.filter(F.col("vec_id") < _N_QUERIES)
    return S.ivf_probe_pruned(
        spark, path, cents, queries, k=_K, nprobe=_NPROBE
    )


def q100_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup: embedding-cluster semantic dedup — within each IVF
    cell, drop every vector that has a smaller-id same-cell vector at
    cosine >= threshold (deterministic exemplar = min id). The
    semantic companion to the lexical dedup family (q34-q38): it
    catches paraphrases MinHash can't. Same cell-blocked join shape
    as q46; one shuffle on cell, never all-pairs."""
    emb = load_table(spark, sf_dir, "embeddings")
    return S.semantic_dedup(
        emb, _adaptive_centroids(emb), threshold=_NEARDUP_THRESHOLD
    )


_PQ_M = 4
_PQ_KSUB = 16
_EMB_DIM_PQ = 64


def _pq_cb(emb: DataFrame) -> DataFrame:
    return S.pq_codebook(emb, dim=_EMB_DIM_PQ, m=_PQ_M, ksub=_PQ_KSUB)


def q111_pq_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization encode: every vector compressed to m=4
    sub-codes (16 codewords each — 64 floats become 4 nibbles) plus
    the reconstruction error that sizes m/ksub for a target
    distortion. The codebook folds into plan literals (ivf_assign
    shape): a pure narrow map, zero shuffles at any corpus size."""
    emb = load_table(spark, sf_dir, "embeddings")
    # Under-parallel guard: the encode narrow map precedes any
    # exchange (r17 probe 0.86 s -> 0.69 s; no-op at real scale).
    emb = _fo(emb)
    enc = S.pq_encode(emb, _pq_cb(emb))
    return enc.select(
        "vec_id",
        *[
            F.col("codes")[s].cast("int").alias(f"code_{s}")
            for s in range(_PQ_M)
        ],
        F.round("recon_err", 6).alias("recon_err"),
    )


def q151_sq8_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQ8 scalar quantization (FAISS's SQ8, the 4x-compression
    sibling of q111's PQ): exact per-dimension corpus [min, max]
    bounds (one partial-aggregated posexplode pass, driver-small
    result), then every vector's 64 dims linearly quantized to 8-bit
    codes with the midpoint-decode reconstruction error — the audit
    that decides whether 4x compression is usable before reaching
    for PQ's 64x. Encode is a pure narrow map with the bounds as
    plan-literal arrays: zero shuffles at any corpus size."""
    emb = load_table(spark, sf_dir, "embeddings")
    # Under-parallel guard: the encode narrow map precedes any
    # exchange (r17 probe 0.59 s -> 0.48 s; no-op at real scale).
    emb = _fo(emb)
    enc = S.sq8_encode(emb, S.sq8_bounds(emb))
    return enc.select(
        "vec_id",
        *[
            F.col("codes")[s].cast("int").alias(f"code_{s}")
            for s in range(4)
        ],
        F.round("recon_err", 6).alias("recon_err"),
    )


def q112_pq_adc_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ADC quality audit: per-query recall@k of asymmetric-distance
    top-k over PQ codes against exact brute-force squared-L2 — the
    measurement that decides whether 64x compression is usable for
    first-stage retrieval. The ADC scan reads only (id, codes) and
    scores rows by m table lookups; both legs are queries x k rows,
    so the recall join broadcasts (q86 pattern)."""
    from ulh_etl_spark.operators.fanout import fan_out

    emb = load_table(spark, sf_dir, "embeddings")
    # Every leg (encode, ADC scan, brute-force) is a narrow map over
    # this scan — under-parallel guard (r17 probe 1.24 s -> 0.96 s;
    # no-op at real scale).
    emb = fan_out(emb)
    cb = _pq_cb(emb)
    queries = emb.filter(F.col("vec_id") < _N_QUERIES)
    enc = S.pq_encode(emb, cb).select("vec_id", "codes")
    adc = (
        S.pq_adc_topk(enc, cb, queries, k=_K)
        .select("query_id", "vec_id")
        .withColumn("_hit", F.lit(1))
    )
    bf = S.l2_topk(emb, queries, k=_K).select("query_id", "vec_id")
    return (
        bf.join(F.broadcast(adc), ["query_id", "vec_id"], "left")
        .groupBy("query_id")
        .agg(
            F.round(
                F.sum(F.coalesce(F.col("_hit"), F.lit(0))) / F.lit(float(_K)),
                6,
            ).alias("recall_at_k")
        )
    )


def q119_ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ search (the FAISS IVFPQ composition): coarse IVF cells
    prune to nprobe=2 of 8, ADC over PQ codes ranks within — the
    at-rest index row (id, cell, codes) is both partition-prunable
    and 64x smaller than raw floats. Centroids + per-query LUTs are
    plan literals; the probe is a broadcast cell join."""
    emb = load_table(spark, sf_dir, "embeddings")
    cents = _centroids(emb)
    cb = _pq_cb(emb)
    queries = emb.filter(F.col("vec_id") < _N_QUERIES)
    encoded_cells = S.ivf_assign(emb, cents).select("vec_id", "cell").join(
        S.pq_encode(emb, cb).select("vec_id", "codes"), "vec_id"
    )
    return S.ivfpq_adc_topk(
        encoded_cells, cb, cents, queries, k=_K, nprobe=_NPROBE
    )


def q136_multiprobe_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-probe LSH quality evaluation: per-query recall@10 of
    hyperplane multi-probe search (exact band keys + hamming-1
    probes, query-side expansion only) against exact brute force —
    the measurement that shows multi-probe recovering the recall
    extra hash tables would cost memory for. q86's recall-join
    pattern."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < _N_QUERIES)
    bf = S.cosine_topk(emb, queries, k=_K).select("query_id", "neighbor_id")
    mp = (
        S.hyperplane_multiprobe_topk(
            emb, queries, _EMB_DIM,
            num_planes=_N_PLANES, rows_per_band=_ROWS_PER_BAND, k=_K,
        )
        .select("query_id", "neighbor_id")
        .withColumn("_hit", F.lit(1))
    )
    return (
        bf.join(F.broadcast(mp), ["query_id", "neighbor_id"], "left")
        .groupBy("query_id")
        .agg(
            F.round(
                F.sum(F.coalesce(F.col("_hit"), F.lit(0))) / F.lit(float(_K)),
                6,
            ).alias("recall_at_k")
        )
    )


CORESET_K = 6


def q138_kcenter_coreset(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy k-center coreset: the 6 most mutually distant
    embeddings (farthest-point, deterministic seed + tie-breaks) —
    the diverse-exemplar selection pass. Centers fold into plan
    literals per iteration; the only per-round action is a 1-row
    argmax. Oracle: the same greedy unrolled as CTE layers."""
    emb = load_table(spark, sf_dir, "embeddings")
    return S.kcenter_coreset(emb, k=CORESET_K)


_RP_OUT_DIM = 16


def q146_random_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Johnson-Lindenstrauss reduction 64 -> 16 dims via a
    deterministic ±1 Rademacher matrix (md5-derived, literal-folded —
    zero shuffles, zero Python): the cheap pre-reduction feeding ANN
    when raw dimension is the per-pair cost
    (operators.similarity.random_projection)."""
    emb = load_table(spark, sf_dir, "embeddings")
    return S.random_projection(
        emb, dim=_EMB_DIM, out_dim=_RP_OUT_DIM
    )


_PR_ITER = 3
_PR_DAMPING = 0.85


def q169_knn_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank over the mutual-kNN graph (built on the TWO-LEVEL
    assigner since r12 — the flat N·C argmin measured exp +1.48
    sf1→sf10; q200 keeps the single-probe two-level twin)
    (q160's edge relation,
    operators.graph.pagerank, 3 rounds, d=0.85): ranks the most
    central member of every semantic neighborhood — the exemplar a
    curation run keeps when a near-dup family collapses, and the
    seed-selection score for active labeling. Degree-bounded edges
    (mutual kNN has deg <= k) keep every round's join/groupBy skew-
    free; the fixed iteration count makes the whole recursion one
    unrolled SQL oracle."""
    from ulh_etl_spark.operators.graph import pagerank

    emb = load_table(spark, sf_dir, "embeddings")
    knn = S.knn_graph(
        emb, _adaptive_centroids(emb), k=_KNN_K, two_level=True
    )
    edges = S.mutual_knn_edges(knn)
    return pagerank(edges, iterations=_PR_ITER, damping=_PR_DAMPING)


_HITS_ITER = 3


def q220_knn_hits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HITS hubs & authorities over the DIRECTED two-level kNN graph
    (operators.graph.hits, Kleinberg JACM'99, 3 max-normalized
    rounds): the hubness measurement the mutual-edge filter only
    hides — a high-AUTHORITY vector is chosen as a neighbor by many
    vectors (the kNN-graph pathology that biases NN-Descent and
    label propagation), hubs are the choosers. PageRank (q169) ranks
    the symmetric graph; this ranks the asymmetry itself. Directed
    out-degree is exactly k, so every gather is degree-bounded on
    the hub side only — exactly what AQE skew-join splits; the fixed
    round count unrolls into one SQL oracle (max normalization is
    order-exact; the neighbor-sum slack is absorbed by the output
    rounding, the q169 contract)."""
    from ulh_etl_spark.operators.graph import hits

    emb = load_table(spark, sf_dir, "embeddings")
    knn = S.knn_graph(
        emb, _adaptive_centroids(emb), k=_KNN_K, two_level=True
    )
    return hits(
        knn.select(
            F.col("vec_id").alias("src"),
            F.col("neighbor_id").alias("dst"),
        ),
        iterations=_HITS_ITER,
    )


def q221_knn_hubness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hubness audit of the production kNN graph: the k-OCCURRENCE
    histogram — how many vectors are chosen as a neighbor 0, 1, 2,
    ... times (Radovanovic et al. JMLR 2010: high-dimensional spaces
    grow heavy right tails; antihubs at 0 are unreachable by
    graph-based search, hubs distort NN-Descent and kNN
    classification). One groupBy on neighbor_id + one left join to
    keep the 0-occurrence vectors visible + one groupBy on the
    count. Output: (k_occurrence, n_vectors)."""
    emb = load_table(spark, sf_dir, "embeddings")
    knn = S.knn_graph(
        emb, _adaptive_centroids(emb), k=_KNN_K, two_level=True
    )
    ind = knn.groupBy("neighbor_id").agg(F.count("*").alias("_k"))
    return (
        emb.select("vec_id")
        .join(ind, emb["vec_id"] == ind["neighbor_id"], "left")
        .select(F.coalesce(F.col("_k"), F.lit(0)).alias("k_occurrence"))
        .groupBy("k_occurrence")
        .agg(F.count("*").cast("bigint").alias("n_vectors"))
        .select(
            F.col("k_occurrence").cast("bigint").alias("k_occurrence"),
            "n_vectors",
        )
    )


def q233_knn_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree assortativity of the mutual-kNN graph (Newman, PRL
    2002): the Pearson correlation of endpoint degrees over the
    undirected edge set — negative r means hubs attach to low-degree
    spokes (the hub-dominated topology where graph search degrades
    and q221's antihubs appear); r near 0/positive means the
    paraphrase clusters are degree-homogeneous. One scalar per
    corpus, the topology health check next to q221's histogram and
    q231's densities. Both edge directions enter the sums (the
    standard undirected convention), so Σx = Σy by construction.
    All five sums are INTEGER (degrees are counts) — exact in both
    engines — and r is one closed-form double expression on them,
    rounded at the end.

    Scale: mutual-kNN edges (degree <= k) -> one degree groupBy ->
    two degree joins on uniform node ids -> a single 5-sum
    aggregate. Nothing wider than the edge relation."""
    from pyspark.sql import Window  # noqa: F401 — parity with siblings

    emb = load_table(spark, sf_dir, "embeddings")
    knn = S.knn_graph(
        emb, _adaptive_centroids(emb), k=_KNN_K, nprobe=_KNN_NPROBE,
        two_level=True,
    )
    # Eager localCheckpoint (r16, the q231 lesson): mut feeds both
    # union legs and und is read by three joins — unchecked, the
    # kNN-build + mutual-filter subplan executed and re-analyzed per
    # reference.
    mut = truncate_lineage(S.mutual_knn_edges(knn))
    und = mut.select(
        F.col("id1").alias("a"), F.col("id2").alias("b")
    ).union(mut.select(F.col("id2").alias("a"), F.col("id1").alias("b")))
    deg = und.groupBy("a").agg(F.count("*").cast("long").alias("_d"))
    e = (
        und.join(deg.select(F.col("a"), F.col("_d").alias("_dx")), "a")
        .join(
            deg.select(F.col("a").alias("b"), F.col("_d").alias("_dy")),
            "b",
        )
    )
    s = e.agg(
        F.count("*").cast("long").alias("_m"),
        F.sum("_dx").cast("long").alias("_sx"),
        F.sum("_dy").cast("long").alias("_sy"),
        F.sum(F.col("_dx") * F.col("_dy")).cast("long").alias("_sxy"),
        F.sum(F.col("_dx") * F.col("_dx")).cast("long").alias("_sxx"),
        F.sum(F.col("_dy") * F.col("_dy")).cast("long").alias("_syy"),
    )
    m = F.col("_m").cast("double")
    num = m * F.col("_sxy").cast("double") - (
        F.col("_sx").cast("double") * F.col("_sy").cast("double")
    )
    den = F.sqrt(
        m * F.col("_sxx").cast("double")
        - F.col("_sx").cast("double") * F.col("_sx").cast("double")
    ) * F.sqrt(
        m * F.col("_syy").cast("double")
        - F.col("_sy").cast("double") * F.col("_sy").cast("double")
    )
    return s.select(
        F.col("_m").alias("n_directed_edges"),
        F.round(num / den, 6).alias("assortativity"),
    )


def q231_cluster_edge_density(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic-cluster SHAPE audit: per q160 cluster (mutual-kNN
    connected component), the internal edge count and edge density
    2e/(c(c-1)) — density ~1 is a genuine paraphrase clique, density
    ~2/c is a chain of pairwise-similar docs transitively glued (the
    classic near-dup-clustering failure mode: collapse-to-one is
    safe for cliques, lossy for chains). The report a dedup run
    reads before choosing keep-one vs keep-per-subcluster. Counts
    are integers off the same mutual edge relation q160 clusters, so
    the oracle replays the graph + recursive closure verbatim.

    Scale: the q160 chain (kNN build + mutual filter + CC) plus one
    edges->component join and two bounded groupBys; edges are
    degree-bounded (mutual kNN deg <= k), components are the
    clusters themselves."""
    from ulh_etl_spark.operators.dedup import connected_components

    emb = load_table(spark, sf_dir, "embeddings")
    knn = S.knn_graph(
        emb, _adaptive_centroids(emb), k=_KNN_K, nprobe=_KNN_NPROBE,
        two_level=True,
    )
    # Eager localCheckpoint (r16): edges feeds BOTH the CC chain and
    # the per-component edge count below — without it the whole
    # kNN-build + mutual-filter subplan executed twice and was
    # re-analyzed by every downstream job (the hits() lesson; edges
    # are degree-bounded, so the blocks are corpus-linear).
    edges = truncate_lineage(S.mutual_knn_edges(knn))
    comp = connected_components(edges)
    mc = comp.groupBy("component").agg(
        F.count("*").cast("bigint").alias("n_members")
    )
    ec = (
        edges.join(
            comp.select(
                F.col("node").alias("id1"), F.col("component")
            ),
            "id1",
        )
        .groupBy("component")
        .agg(F.count("*").cast("bigint").alias("n_edges"))
    )
    return mc.join(ec, "component").select(
        "component",
        "n_members",
        "n_edges",
        F.round(
            (F.col("n_edges") * F.lit(2.0))
            / (
                F.col("n_members").cast("double")
                * (F.col("n_members") - F.lit(1)).cast("double")
            ),
            6,
        ).alias("density"),
    )


def q227_knn_label_agreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Label-noise audit via kNN agreement (the Brodley & Friedl
    JAIR'99 mislabeled-instance filter, in aggregate): per label
    class, the fraction of production-graph kNN edges whose endpoint
    labels AGREE — low-agreement classes are where annotation noise
    or class overlap lives, the triage signal before training a
    classifier head on the embeddings. Built on the SAME two-level
    kNN graph the rest of the family ships (q199's build), so the
    audit prices the graph users actually query. All counts are
    integers off the graph plus one division; the oracle replays the
    graph CTE verbatim.

    Scale: graph build (the q199 chain) + two label joins on vec_id
    (broadcast-sized payload: one int per vector) + one groupBy on
    the label domain."""
    emb = load_table(spark, sf_dir, "embeddings")
    knn = S.knn_graph(
        emb, _adaptive_centroids(emb), k=_KNN_K, two_level=True
    )
    la = emb.select("vec_id", F.col("label").alias("_la"))
    lb = emb.select(
        F.col("vec_id").alias("neighbor_id"), F.col("label").alias("_lb")
    )
    e = knn.join(la, "vec_id").join(lb, "neighbor_id")
    return (
        e.groupBy(F.col("_la").cast("bigint").alias("label"))
        .agg(
            F.countDistinct("vec_id").cast("bigint").alias("n_vectors"),
            F.count("*").cast("bigint").alias("n_edges"),
            F.sum(
                F.when(F.col("_la") == F.col("_lb"), 1).otherwise(0)
            ).cast("bigint").alias("n_same_label"),
        )
        .select(
            "label",
            "n_vectors",
            "n_edges",
            "n_same_label",
            F.round(
                F.col("n_same_label").cast("double")
                / F.col("n_edges").cast("double"),
                6,
            ).alias("agreement"),
        )
    )


def q170_knn_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-node triangle counts + local clustering coefficient over
    the mutual-kNN graph (operators.graph.triangle_stats): separates
    genuinely dense paraphrase families (high clustering — every
    member near every other) from hub artifacts (high degree, zero
    closure). Degree-ordered edge orientation bounds wedge fan-out at
    the lowest-degree endpoint — the O(m^1.5) MapReduce triangle
    bound — so the plan survives power-law degree graphs, not just
    the k-bounded one it runs on here. Runs on the two-level
    assignment since r12 (the oracle mirrors the identical rule)."""
    from ulh_etl_spark.operators.graph import triangle_stats

    emb = load_table(spark, sf_dir, "embeddings")
    knn = S.knn_graph(
        emb, _adaptive_centroids(emb), k=_KNN_K, two_level=True
    )
    edges = S.mutual_knn_edges(knn)
    return triangle_stats(edges)


_KS_DIMS = 8


def q174_embedding_ks_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kolmogorov-Smirnov drift per embedding dimension between the
    at-rest snapshot (even vec_ids) and the incoming batch (odd),
    over the 8 leading dims — the binning-free twin of q168's PSI:
    KS sees any CDF separation, including shifts PSI's four fixed
    reference-range bins cannot resolve
    (operators.profile.embedding_ks_drift). Integer ECDF counts +
    an order-independent MAX make it bit-stable with no rounding
    dependence."""
    from ulh_etl_spark.operators.profile import embedding_ks_drift

    emb = load_table(spark, sf_dir, "embeddings")
    ref = emb.filter(F.col("vec_id") % 2 == 0)
    cur = emb.filter(F.col("vec_id") % 2 == 1)
    return embedding_ks_drift(ref, cur, dims=_KS_DIMS)




_LP_ROUNDS = 2
_LP_SEED_MOD = 5


def q175_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-supervised label spread over the mutual-kNN graph
    (operators.graph.label_propagation, 2 synchronous rounds): nodes
    with vec_id % 5 == 0 act as human-labeled seeds (their
    ``label`` column is ground truth); every other node takes the
    neighbor-mode label, ties to the smaller label. The curation
    move this pins: amplify a small labeled set across the
    embedding graph to pre-label the corpus for mixture decisions.
    Synchronous rounds + a total tie order make the fixpoint
    deterministic — the oracle replays both rounds exactly (on the
    two-level kNN graph since r12)."""
    from ulh_etl_spark.operators.graph import label_propagation

    emb = load_table(spark, sf_dir, "embeddings")
    knn = S.knn_graph(
        emb, _adaptive_centroids(emb), k=_KNN_K, two_level=True
    )
    edges = S.mutual_knn_edges(knn)
    seeds = (
        emb.filter(F.col("vec_id") % _LP_SEED_MOD == 0)
        .select(F.col("vec_id").alias("node"), F.col("label").cast("int").alias("label"))
    )
    return label_propagation(edges, seeds, rounds=_LP_ROUNDS)




_KMP_ROUNDS = 3
_KMP_L = 8.0
_KMP_SALT = "kmpar"


def q210_kmeans_parallel_init(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-means|| seeding over the embedding corpus
    (operators.similarity.kmeans_parallel_init, 3 rounds, l=8):
    the constant-pass scalable k-means++ replacement (Bahmani
    VLDB'12), derandomized with portable md5 uniforms so the
    selected candidate set and its nearest-seed weights are an exact
    function of the corpus — the oracle unrolls the identical
    rounds. Complements the density-proportional and k-center seeds
    already cataloged: this is the one with the O(log n)
    approximation guarantee behind it."""
    emb = load_table(spark, sf_dir, "embeddings")
    return S.kmeans_parallel_init(
        emb, rounds=_KMP_ROUNDS, oversample=_KMP_L, salt=_KMP_SALT
    )


def _kmpar_parts() -> list:
    """The k-means|| candidate-phase CTE chain (through seeds{R} and
    the weight relation w) — shared by the q210 and q211 oracles so
    the two stay in lockstep by construction."""
    l = f"{float(_KMP_L)!r}"
    two60 = "CAST(1152921504606846976 AS BIGINT)"
    seed_key = f"'{_KMP_SALT}_seed_' || CAST(vec_id AS VARCHAR)"
    sqd = _sqd("e.embedding", "s.embedding")
    parts = [
        "e AS MATERIALIZED (SELECT vec_id, embedding FROM embeddings)",
        f"""seeds0 AS MATERIALIZED (
            SELECT vec_id, embedding, 0 AS rsel FROM (
                SELECT vec_id, embedding,
                       row_number() OVER (ORDER BY {O.md5h(seed_key)},
                                          vec_id) AS rn
                FROM e
            ) WHERE rn = 1)""",
    ]
    for r in range(1, _KMP_ROUNDS + 1):
        p = r - 1
        u = (
            f"CAST(CAST('0x' || substr(md5('{_KMP_SALT}_sel_{r}_' || "
            f"CAST(d.vec_id AS VARCHAR)), 1, 15) AS BIGINT) AS DOUBLE)"
            f" / CAST({two60} AS DOUBLE)"
        )
        parts.append(
            f"d{r} AS MATERIALIZED (SELECT e.vec_id, e.embedding, "
            f"MIN({sqd}) AS d2 FROM e, seeds{p} s "
            f"GROUP BY e.vec_id, e.embedding)"
        )
        parts.append(f"p{r} AS (SELECT SUM(d2) AS phi FROM d{r})")
        parts.append(
            f"sel{r} AS MATERIALIZED (SELECT d.vec_id, d.embedding, "
            f"{r} AS rsel FROM d{r} d, p{r} "
            f"WHERE {u} < ({l} * d.d2) / p{r}.phi)"
        )
        parts.append(
            f"seeds{r} AS MATERIALIZED (SELECT * FROM seeds{p} "
            f"UNION ALL SELECT * FROM sel{r})"
        )
    R = _KMP_ROUNDS
    parts.append(
        f"""assigned AS (
            SELECT vec_id, sid FROM (
                SELECT e.vec_id, s.vec_id AS sid,
                       row_number() OVER (PARTITION BY e.vec_id
                           ORDER BY {sqd}, s.vec_id) AS rn
                FROM e, seeds{R} s
            ) WHERE rn = 1
        )"""
    )
    parts.append(
        """w AS (
            SELECT sid, CAST(COUNT(*) AS BIGINT) AS weight
            FROM assigned GROUP BY sid
        )"""
    )
    return parts


def _q210_oracle_sql() -> str:
    R = _KMP_ROUNDS
    joined = ",\n        ".join(_kmpar_parts())
    return f"""
        WITH {joined}
        SELECT s.vec_id AS seed_id, CAST(s.rsel AS INT) AS round_selected,
               COALESCE(w.weight, 0) AS weight
        FROM seeds{R} s LEFT JOIN w ON s.vec_id = w.sid
    """


_KMP_K = 8


def q211_kmeans_parallel_recluster(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The full k-means|| pipeline end-to-end
    (operators.similarity.kmeans_parallel_recluster): q210's
    oversampled weighted candidates reclustered driver-side to k=8
    final centers (deterministic weighted greedy picks), then ONE
    zero-shuffle corpus assignment to the final centers with
    per-center counts and mean squared distance. ~rounds+2 corpus
    passes total vs k for sequential k-means++ — the 100 TB argument
    for the algorithm, now oracle-checked end to end (the oracle
    unrolls the candidate rounds AND the k-1 greedy picks)."""
    emb = load_table(spark, sf_dir, "embeddings")
    return S.kmeans_parallel_recluster(
        emb, rounds=_KMP_ROUNDS, oversample=_KMP_L, k=_KMP_K,
        salt=_KMP_SALT,
    )


def _q211_oracle_sql() -> str:
    R = _KMP_ROUNDS
    sqd_cf = _sqd("c.embedding", "f.embedding")
    sqd_ef = _sqd("e.embedding", "f.embedding")
    parts = _kmpar_parts()
    parts.append(
        f"""cand AS MATERIALIZED (
            SELECT s.vec_id, s.embedding, COALESCE(w.weight, 0) AS weight
            FROM seeds{R} s LEFT JOIN w ON s.vec_id = w.sid
        )"""
    )
    first_key = (
        f"'{_KMP_SALT}_final_' || CAST(vec_id AS VARCHAR)"
    )
    parts.append(
        f"""fs0 AS MATERIALIZED (
            SELECT vec_id, embedding, weight, 0 AS pick_order FROM (
                SELECT c.*, row_number() OVER (
                    ORDER BY {O.md5h(first_key)}, vec_id) AS rn
                FROM cand c
            ) WHERE rn = 1
        )"""
    )
    for j in range(1, _KMP_K):
        p = j - 1
        parts.append(
            f"""sc{j} AS MATERIALIZED (
            SELECT c.vec_id, c.embedding, c.weight,
                   c.weight * MIN({sqd_cf}) AS score
            FROM cand c, fs{p} f
            WHERE c.vec_id NOT IN (SELECT vec_id FROM fs{p})
            GROUP BY c.vec_id, c.embedding, c.weight
        )"""
        )
        parts.append(
            f"""fs{j} AS MATERIALIZED (
            SELECT * FROM fs{p}
            UNION ALL
            SELECT vec_id, embedding, weight, {j} AS pick_order FROM (
                SELECT sc.*, row_number() OVER (
                    ORDER BY score DESC, vec_id) AS rn
                FROM sc{j} sc
            ) WHERE rn = 1
        )"""
        )
    K = _KMP_K - 1
    parts.append(
        f"""fassign AS (
            SELECT vec_id, cid, d2 FROM (
                SELECT e.vec_id, f.vec_id AS cid, {sqd_ef} AS d2,
                       row_number() OVER (PARTITION BY e.vec_id
                           ORDER BY {sqd_ef}, f.vec_id) AS rn
                FROM e, fs{K} f
            ) WHERE rn = 1
        )"""
    )
    parts.append(
        """aggd AS (
            SELECT cid, CAST(COUNT(*) AS BIGINT) AS n, SUM(d2) AS sd
            FROM fassign GROUP BY cid
        )"""
    )
    joined = ",\n        ".join(parts)
    return f"""
        WITH {joined}
        SELECT f.vec_id AS center_id,
               CAST(f.pick_order AS INT) AS pick_order,
               COALESCE(a.n, 0) AS n_assigned,
               COALESCE(round(a.sd / a.n, 6), 0.0) AS mean_sqdist
        FROM fs{K} f LEFT JOIN aggd a ON f.vec_id = a.cid
    """


_KCORE_K = 3
_KCORE_ROUNDS = 3


def q209_kcore_peel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-core peeling over the mutual two-level kNN graph
    (operators.graph.kcore_peel, k=3, 3 synchronous rounds): the
    density filter that separates real paraphrase/near-dup families
    (every member keeps >= 3 mutual neighbors no matter how many
    rounds peel) from the kNN chains and hub stars that evaporate in
    one or two peels. Reports (round, nodes_remaining,
    edges_remaining) — when two consecutive rounds agree the peel
    has converged. Fixed rounds keep the plan linear (the q175
    precedent); the oracle unrolls the identical peels over the
    two-level kNN CTE chain."""
    from ulh_etl_spark.operators.graph import kcore_peel

    emb = load_table(spark, sf_dir, "embeddings")
    knn = S.knn_graph(
        emb, _adaptive_centroids(emb), k=_KNN_K, two_level=True
    )
    edges = S.mutual_knn_edges(knn)
    return kcore_peel(edges, k=_KCORE_K, rounds=_KCORE_ROUNDS)


_OUT_Z = 2.0
_OUT_MIN_CELL = 5


def q181_embedding_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space outlier pruning: per IVF cell, flag vectors
    whose centroid distance is a > 2-sigma z-score outlier
    (operators.similarity.cell_distance_outliers) — the garbage/
    mislabeled-embedding filter run before index builds and semantic
    dedup. Assignment is the zero-shuffle centroid-literal narrow
    map; stats are one cell-keyed groupBy; the z-score carries the
    q132 flat-baseline discipline (clamped closed-form variance +
    min!=max guard) so duplicate-heavy cells degrade to NULL z, not
    NaN."""
    emb = load_table(spark, sf_dir, "embeddings")
    return S.cell_distance_outliers(
        emb, _centroids(emb),
        z_threshold=_OUT_Z, min_cell=_OUT_MIN_CELL,
    )


def q197_cell_skew_canary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cell-size skew canary for every cell-blocked pair stage: one
    groupBy over the adaptive IVF assignment reporting cell count,
    avg/max cell size, and the exact within-cell candidate-pair total
    (sum of cell²) — the number that decides whether a near-dup /
    kNN / SemDeDup job is runnable BEFORE paying for it. The r11
    second-decade probe motivated it: at sf10 the id-ordered seed
    left one cell with 46% of the corpus (max 91,325 vs avg 250) and
    8.6e9 candidate pairs — a >80-minute wall that this one-shuffle
    report would have predicted in seconds. Max/avg is the skew
    signal; candidate_pairs is the cost forecast (SCALE.md r11)."""
    emb = load_table(spark, sf_dir, "embeddings")
    sizes = (
        S.ivf_assign(emb, _adaptive_centroids(emb))
        .groupBy("cell")
        .agg(F.count("*").cast("long").alias("_n"))
    )
    return sizes.agg(
        F.count("*").cast("long").alias("n_cells"),
        F.round(F.avg(F.col("_n").cast("double")), 6).alias("avg_cell"),
        F.max("_n").cast("long").alias("max_cell"),
        F.sum(F.col("_n") * F.col("_n")).cast("long").alias(
            "candidate_pairs"
        ),
    )


def q198_two_level_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q197's skew canary over the TWO-LEVEL assignment
    (operators.similarity.ivf_assign_two_level): same one-shuffle
    n_cells/avg/max/candidate-pairs report, but cells come from the
    sqrt(C)-coarse-then-fine argmin instead of the flat N·C scan.
    The r12 sf1→sf10 probes measured the flat assignment's cost
    going superlinear (q169 exp +1.48, q160 +1.63: 2e5 vectors x 800
    centroids = 1.6e8 interpreted distance folds per scan); the
    two-level structure pays N·~2·sqrt(C) instead. This canary is
    the pre-flight for any pair stage run on two-level cells — it
    shows what the quantization error does to the cell-size
    histogram (slightly lumpier than flat; candidate_pairs is the
    number that matters)."""
    emb = load_table(spark, sf_dir, "embeddings")
    sizes = (
        S.ivf_assign_two_level(emb, _adaptive_centroids(emb))
        .groupBy("cell")
        .agg(F.count("*").cast("long").alias("_n"))
    )
    return sizes.agg(
        F.count("*").cast("long").alias("n_cells"),
        F.round(F.avg(F.col("_n").cast("double")), 6).alias("avg_cell"),
        F.max("_n").cast("long").alias("max_cell"),
        F.sum(F.col("_n") * F.col("_n")).cast("long").alias(
            "candidate_pairs"
        ),
    )


def q199_knn_graph_two_level(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q159's cell-blocked kNN graph built on the two-level
    quantizer: identical join + rank plan downstream, only the cell
    assignment changes (N·2·sqrt(C) distances instead of N·C). The
    assignment approximation (a vector whose nearest fine centroid
    sits in another coarse group takes its best same-group cell) is
    deterministic, so the two-level rule written in SQL is an exact
    oracle."""
    emb = load_table(spark, sf_dir, "embeddings")
    return S.knn_graph(
        emb, _adaptive_centroids(emb), k=_KNN_K, two_level=True
    )


def q200_knn_pagerank_two_level(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """q169's PageRank over the mutual-kNN graph, with the kNN built
    on the two-level assignment — the query that demonstrates the
    assignment fix end-to-end: q169's sf1→sf10 exponent was +1.48
    because the flat N·C argmin dominates; this twin's probe is the
    'after' measurement."""
    from ulh_etl_spark.operators.graph import pagerank

    emb = load_table(spark, sf_dir, "embeddings")
    knn = S.knn_graph(
        emb, _adaptive_centroids(emb), k=_KNN_K, two_level=True
    )
    edges = S.mutual_knn_edges(knn)
    return pagerank(edges, iterations=_PR_ITER, damping=_PR_DAMPING)


_NND_ROUNDS = 3


def q201_nn_descent_plateau(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The NN-Descent recall curve: mean recall@k of the q186
    multi-probe seed and of each of three composed refinement
    rounds against exact brute force — where the ladder tops out and
    what each round buys. Rounds compose because nn_descent_round's
    output is its own input shape (operators/similarity.py), and
    per-query recall is monotone non-decreasing per round (current
    edges ride in the candidate set), so the curve is monotone by
    construction; the plateau is where hopping farther stops paying
    and probe width (nprobe) or centroid count become the remaining
    levers. Each round is persisted — round i+1 references its
    predecessor ~3 times (the undirected union + candidate union).

    Mean recall = total hits / (n_queries * k), computed as ONE
    integer hit sum over the brute relation then a single fixed-order
    double division — bit-stable cross-engine.

    r16 plan restructure (values unchanged, oracle replays verbatim):
    the brute relation is PERSISTED (it fed all four legs; as an
    unpersisted plan each leg re-ran the brute scoring), and the four
    per-round recall legs collapse into ONE pass — union the
    round-tagged audited edges of the four persisted graphs, inner-
    join the broadcast brute relation, group by round (an inner-join
    count equals the old per-leg indicator sum because both relations
    are duplicate-free on (query_id, neighbor_id)), then left-join
    onto the round spine so a zero-hit round still emits its row.

    Output: (round, mean_recall), rounds 0..3."""
    from pyspark.storagelevel import StorageLevel

    emb = load_table(spark, sf_dir, "embeddings")
    cents = _adaptive_centroids(emb)
    queries = emb.filter(F.col("vec_id") < _KNN_AUDIT_Q)
    bf = track(
        S.cosine_topk(emb, queries, k=_KNN_K)
        .select("query_id", "neighbor_id")
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    # Each round's graph localCheckpoints (eager — the CC/HITS
    # lineage rule, graph.py): nn_descent_round references its input
    # graph multiple times (THREE since the r16 pivot-groupBy local
    # join; FIVE in the r15 self-join form), so a persist-only chain
    # grows the LOGICAL plan several-fold per round — by round 3 the
    # r15 analyzed tree held ~955 cached-scan references and 2.8 MB
    # of plan text, and Catalyst planning plus thousands of leaf
    # stages dominated the runtime (measured 1.5 / 2.5 / 10.6 s for
    # rounds 1-3 despite every input cached). The checkpoint makes
    # every round a LEAF: plan size is constant in rounds, rows
    # unchanged (the round is deterministic).
    cur = truncate_lineage(S.knn_graph(
        emb, cents, k=_KNN_K, nprobe=_KNN_NPROBE, two_level=True
    ))
    graphs = [(0, cur)]
    for r in range(1, _NND_ROUNDS + 1):
        cur = truncate_lineage(S.nn_descent_round(cur, emb, k=_KNN_K))
        graphs.append((r, cur))
    return _nnd_recall_curve(spark, bf, graphs)


def _nnd_recall_curve(spark, bf, graphs) -> DataFrame:
    """Shared single-pass recall-curve tail for q201/q205 (r16): one
    union of round-tagged audited edges, one broadcast of the
    persisted brute relation, one groupBy — replacing one full
    brute-leg evaluation + broadcast build + agg PER round."""
    hit_legs = [
        g.filter(F.col("vec_id") < _KNN_AUDIT_Q)
        .select(
            F.lit(r).cast("int").alias("round"),
            F.col("vec_id").alias("query_id"),
            "neighbor_id",
        )
        for r, g in graphs
    ]
    hits = hit_legs[0]
    for leg in hit_legs[1:]:
        hits = hits.unionByName(leg)
    tot = bf.agg(F.count("*").cast("long").alias("_total"))
    per = (
        hits.join(F.broadcast(bf), ["query_id", "neighbor_id"])
        .groupBy("round")
        .agg(F.count("*").cast("long").alias("_hits"))
    )
    spine = spark.range(len(graphs)).select(
        F.col("id").cast("int").alias("round")
    )
    return (
        spine.join(per, "round", "left")
        .crossJoin(F.broadcast(tot))
        .select(
            "round",
            F.round(
                F.coalesce(F.col("_hits"), F.lit(0))
                .cast("long")
                .cast("double")
                / F.col("_total").cast("double"),
                6,
            ).alias("mean_recall"),
        )
    )


# The 6-point curve spans seed-to-exact (sf0.01, recall@4 /
# candidate evals): (2,2) 0.332/42k — the default assignment;
# (2,4) 0.531/82k; (2,6) 0.629/114k — the cheapest >=0.6 config,
# the r12 verdict's asked-for number; (2,8) 0.641/124k — the
# 2-coarse-group geometric ceiling (nprobe 12 changes nothing);
# (3,12) 0.824/186k; (4,12) 0.977/230k — within noise of exact at
# brute-force-equivalent eval count (N^2 = 250k), proving the
# ladder closes. (3,2)/(3,4) were dropped from the r12 sweep: a
# third coarse group buys ZERO recall at small nprobe (0.332 ==
# 0.332 measured) — widening the fine probe, not the coarse union,
# is the lever that pays first.
_RVC_CONFIGS = ((2, 2), (2, 4), (2, 6), (2, 8), (3, 12), (4, 12))


def q204_recall_cost_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall-vs-cost curve for the two-level ANN ladder (r12 verdict
    item #2): one row per (coarse_nprobe, nprobe) config with the
    mean recall@4 of that config's kNN graph against exact brute
    force AND its deterministic cost — the within-cell candidate-pair
    count (sum over probe rows of the index-cell size, minus the N
    self-pairs; q197/q198's forecast number). The sweep prices the
    two remaining recall levers after the q201 plateau: probing a
    third coarse group (recovers fine cells the 2-group union
    misses) and probing more fine cells (the q186 lever) — so "what
    does recall X cost" reads off one table instead of being
    re-measured ad hoc. Centroid count C stays the adaptive default
    (the third lever; its sweep would re-seed the index itself).

    Scale: the brute leg is |corpus| x 64 rows (shared across
    configs, persisted); r16: ONE BLAS assignment pass per DISTINCT
    coarse_nprobe, run at that group's MAX nprobe and prefix-SLICED
    for the narrower configs (for a fixed coarse union the kernel's
    top-n cells are a prefix of its top-m, n <= m, under its
    deterministic total order — so the sliced relation is
    row-identical to a dedicated narrower pass), then the standard
    cell join + rank window per config via knn_graph's ``cells_df``
    passthrough. The six per-config recall legs collapse into ONE
    config-tagged hits union joined against the broadcast brute
    relation (the q201 treatment; values unchanged). All joins keyed
    on uniform cells; nothing all-pairs."""
    from pyspark.storagelevel import StorageLevel

    emb = load_table(spark, sf_dir, "embeddings")
    cents = _adaptive_centroids(emb)
    queries = emb.filter(F.col("vec_id") < _KNN_AUDIT_Q)
    bf = track(
        S.cosine_topk(emb, queries, k=_KNN_K)
        .select("query_id", "neighbor_id")
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    ncnt = emb.agg(F.count("*").cast("long").alias("_N"))
    max_np: dict[int, int] = {}
    for cnp, np_ in _RVC_CONFIGS:
        max_np[cnp] = max(max_np.get(cnp, 0), np_)
    shared = {
        cnp: track(
            S.two_level_cells_blas(
                emb, cents, nprobe=mx, coarse_nprobe=cnp
            ).persist(StorageLevel.MEMORY_AND_DISK)
        )
        for cnp, mx in max_np.items()
    }
    pair_legs = []
    hit_legs = []
    for i, (cnp, np_) in enumerate(_RVC_CONFIGS):
        probes = (
            shared[cnp].withColumn(
                "_cells", F.slice("_cells", 1, np_)
            )
            if np_ < max_np[cnp]
            else shared[cnp]
        )
        sizes = (
            probes.select(F.element_at("_cells", 1).alias("cell"))
            .groupBy("cell")
            .agg(F.count("*").alias("_n"))
        )
        pair_legs.append(
            probes.select(F.explode("_cells").alias("cell"))
            .join(sizes, "cell")
            .agg(F.sum("_n").alias("_s"))
            .crossJoin(F.broadcast(ncnt))
            .select(
                F.lit(i).cast("int").alias("_cfg"),
                (F.col("_s") - F.col("_N"))
                .cast("long")
                .alias("candidate_pairs"),
            )
        )
        g = S.knn_graph(
            emb, cents, k=_KNN_K, nprobe=np_, two_level=True,
            coarse_nprobe=cnp, cells_df=probes,
        )
        hit_legs.append(
            g.filter(F.col("vec_id") < _KNN_AUDIT_Q).select(
                F.lit(i).cast("int").alias("_cfg"),
                F.col("vec_id").alias("query_id"),
                "neighbor_id",
            )
        )
    hits = hit_legs[0]
    for leg in hit_legs[1:]:
        hits = hits.unionByName(leg)
    pairs_all = pair_legs[0]
    for leg in pair_legs[1:]:
        pairs_all = pairs_all.unionByName(leg)
    per = (
        hits.join(F.broadcast(bf), ["query_id", "neighbor_id"])
        .groupBy("_cfg")
        .agg(F.count("*").cast("long").alias("_hits"))
    )
    tot = bf.agg(F.count("*").cast("long").alias("_total"))
    spine = local_frame(
        spark,
        [(i, cnp, np_) for i, (cnp, np_) in enumerate(_RVC_CONFIGS)],
        "_cfg int, coarse_nprobe int, nprobe int",
    )
    return (
        spine.join(per, "_cfg", "left")
        .join(pairs_all, "_cfg")
        .crossJoin(F.broadcast(tot))
        .select(
            "coarse_nprobe",
            "nprobe",
            F.round(
                F.coalesce(F.col("_hits"), F.lit(0))
                .cast("long")
                .cast("double")
                / F.col("_total").cast("double"),
                6,
            ).alias("mean_recall"),
            "candidate_pairs",
        )
    )


def q205_nn_descent_random_init(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """NN-Descent from a RANDOM seed (the Dong et al. WWW 2011 paper
    init, r11/r12 verdict carry-over): recall@4 of a geometry-blind
    hash-ring seed graph (operators.similarity.hash_ring_seed_graph —
    ~k pseudo-random neighbors per vector, zero embedding
    information) and of three composed refinement rounds — the
    counterfactual that pins the no-op theorem's other side: seeded
    with NO cell structure at all, the neighbors-of-neighbors hops
    still converge (measured ladder in SCALE.md r13), they just start
    from nothing; cell-blocked seeding buys the head start. Same
    output shape and recall arithmetic as q201, so the two ladders
    compare row-for-row (and the r16 single-pass recall restructure —
    see q201 — applies identically: persisted brute relation, one
    round-tagged hits union, one broadcast join + groupBy).

    Output: (round, mean_recall), rounds 0..3."""
    from pyspark.storagelevel import StorageLevel

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < _KNN_AUDIT_Q)
    bf = track(
        S.cosine_topk(emb, queries, k=_KNN_K)
        .select("query_id", "neighbor_id")
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    # localCheckpoint per round — the q201 lineage rule (see there):
    # the round references its input 5x, so persist-only chains grow
    # the plan 5x per round; the checkpoint keeps every round a leaf.
    cur = truncate_lineage(S.hash_ring_seed_graph(emb, k=_KNN_K))
    graphs = [(0, cur)]
    for r in range(1, _NND_ROUNDS + 1):
        cur = truncate_lineage(S.nn_descent_round(cur, emb, k=_KNN_K))
        graphs.append((r, cur))
    return _nnd_recall_curve(spark, bf, graphs)


_PCA_DIM = 64
_PCA_ROUNDS = 6
_PCA_RD = 7


def q207_pca_top_component(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top principal component of the embedding corpus by power
    iteration (operators.similarity.power_iteration_pca) — the
    whitening/rotation step in front of PQ codebooks. Six corpus
    passes in ONE lazy plan (persisted projection, no per-round
    collect); per-pass shuffle volume is one 64-double partial-agg
    row per task. Iterates round to 7 decimals after each normalize,
    so the DuckDB oracle walks bit-identical vectors."""
    emb = load_table(spark, sf_dir, "embeddings")
    return S.power_iteration_pca(
        emb, "embedding", dim=_PCA_DIM, rounds=_PCA_ROUNDS,
        round_digits=_PCA_RD,
    )


def _q207_oracle_sql() -> str:
    dim, rounds, rd = _PCA_DIM, _PCA_ROUNDS, _PCA_RD
    idx = range(1, dim + 1)
    v0 = repr(1.0 / (dim ** 0.5))
    # every CTE is AS MATERIALIZED: DuckDB inlines plain CTEs at
    # each reference, and v{r}/u{r} are each referenced twice — the
    # optimizer re-expands the whole chain per reference, exploding
    # exponentially in rounds (the r10 graph-oracle lesson; without
    # this the 6-round plan never finishes PLANNING)
    parts = [
        "WITH e AS MATERIALIZED (SELECT list_transform(embedding, "
        "x -> CAST(x AS DOUBLE)) AS v FROM embeddings)",
        "st AS MATERIALIZED (SELECT CAST(count(*) AS DOUBLE) AS n, "
        + ", ".join(f"sum(v[{i}]) AS sx{i}" for i in idx)
        + ", "
        + ", ".join(f"sum(v[{i}]*v[{i}]) AS ss{i}" for i in idx)
        + " FROM e)",
        "mu AS MATERIALIZED (SELECT n, "
        + ", ".join(f"sx{i}/n AS mu{i}" for i in idx)
        + ", "
        + ", ".join(f"ss{i}" for i in idx)
        + " FROM st)",
        "v0 AS MATERIALIZED (SELECT " + ", ".join(f"{v0} AS pv{i}" for i in idx) + ")",
    ]
    for r in range(1, rounds + 1):
        p = r - 1
        dot = " + ".join(f"e.v[{i}]*p.pv{i}" for i in idx)
        parts.append(
            f"t{r} AS MATERIALIZED (SELECT e.v AS v, ({dot}) AS d FROM e, v{p} p)"
        )
        parts.append(
            f"s{r} AS MATERIALIZED (SELECT "
            + ", ".join(f"sum(v[{i}]*d) AS s{i}" for i in idx)
            + f" FROM t{r})"
        )
        md = " + ".join(f"mu.mu{i}*p.pv{i}" for i in idx)
        parts.append(f"m{r} AS MATERIALIZED (SELECT ({md}) AS md FROM mu, v{p} p)")
        parts.append(
            f"u{r} AS MATERIALIZED (SELECT "
            + ", ".join(
                f"s{i} - mu.n*mu.mu{i}*m{r}.md AS wc{i}" for i in idx
            )
            + f" FROM s{r}, mu, m{r})"
        )
        nsq = " + ".join(f"wc{i}*wc{i}" for i in idx)
        parts.append(f"n{r} AS MATERIALIZED (SELECT sqrt({nsq}) AS nrm FROM u{r})")
        parts.append(
            f"v{r} AS MATERIALIZED (SELECT "
            + ", ".join(f"round(wc{i}/nrm, {rd}) AS pv{i}" for i in idx)
            + f", nrm AS lam FROM u{r}, n{r})"
        )
    trace = " + ".join(f"(ss{i} - n*mu{i}*mu{i})" for i in idx)
    parts.append(f"tr AS MATERIALIZED (SELECT ({trace}) AS trace FROM mu)")
    parts.append(
        "fin AS (SELECT ["
        + ", ".join(f"pv{i}" for i in idx)
        + f"] AS pv, lam FROM v{rounds})"
    )
    parts.append(
        f"ix AS (SELECT unnest(generate_series(1, {dim})) AS di, "
        "pv, lam, trace FROM fin, tr)"
    )
    return (
        ",\n".join(parts)
        + "\nSELECT CAST(di AS INTEGER) AS dim_idx, pv[di] AS loading, "
        "round(lam/trace, 6) AS var_explained FROM ix"
    )


QUERIES = {
    "q207_pca_top_component": q207_pca_top_component,
    "q209_kcore_peel": q209_kcore_peel,
    "q210_kmeans_parallel_init": q210_kmeans_parallel_init,
    "q211_kmeans_parallel_recluster": q211_kmeans_parallel_recluster,
    "q204_recall_cost_curve": q204_recall_cost_curve,
    "q205_nn_descent_random_init": q205_nn_descent_random_init,
    "q198_two_level_cells": q198_two_level_cells,
    "q201_nn_descent_plateau": q201_nn_descent_plateau,
    "q199_knn_graph_two_level": q199_knn_graph_two_level,
    "q200_knn_pagerank_two_level": q200_knn_pagerank_two_level,
    "q197_cell_skew_canary": q197_cell_skew_canary,
    "q181_embedding_outliers": q181_embedding_outliers,
    "q175_label_propagation": q175_label_propagation,
    "q169_knn_pagerank": q169_knn_pagerank,
    "q220_knn_hits": q220_knn_hits,
    "q221_knn_hubness": q221_knn_hubness,
    "q227_knn_label_agreement": q227_knn_label_agreement,
    "q231_cluster_edge_density": q231_cluster_edge_density,
    "q233_knn_assortativity": q233_knn_assortativity,
    "q170_knn_triangles": q170_knn_triangles,
    "q174_embedding_ks_drift": q174_embedding_ks_drift,
    "q39_cosine_topk": q39_cosine_topk,
    "q146_random_projection": q146_random_projection,
    "q40_embedding_norms": q40_embedding_norms,
    "q41_ivf_cluster_sizes": q41_ivf_cluster_sizes,
    "q42_ivf_topk": q42_ivf_topk,
    "q46_embedding_neardup": q46_embedding_neardup,
    "q47_kmeans_refined_centroids": q47_kmeans_refined_centroids,
    "q60_hyperplane_signature": q60_hyperplane_signature,
    "q61_hyperplane_pairs": q61_hyperplane_pairs,
    "q86_ivf_recall": q86_ivf_recall,
    "q96_ivf_pruned_probe": q96_ivf_pruned_probe,
    "q100_semantic_dedup": q100_semantic_dedup,
    "q106_hard_negatives": q106_hard_negatives,
    "q111_pq_encode": q111_pq_encode,
    "q151_sq8_encode": q151_sq8_encode,
    "q154_hybrid_rrf": q154_hybrid_rrf,
    "q217_ndcg_eval": q217_ndcg_eval,
    "q218_rank_biased_overlap": q218_rank_biased_overlap,
    "q155_rerank_topk": q155_rerank_topk,
    "q112_pq_adc_recall": q112_pq_adc_recall,
    "q119_ivfpq_topk": q119_ivfpq_topk,
    "q136_multiprobe_recall": q136_multiprobe_recall,
    "q138_kcenter_coreset": q138_kcenter_coreset,
    "q159_knn_graph": q159_knn_graph,
    "q160_semantic_clusters": q160_semantic_clusters,
    "q186_knn_graph_multiprobe": q186_knn_graph_multiprobe,
    "q187_knn_recall_uplift": q187_knn_recall_uplift,
    "q188_nn_descent": q188_nn_descent,
    "q189_nn_descent_recall": q189_nn_descent_recall,
    "q168_embedding_drift": q168_embedding_drift,
}


def _planes_values_sql() -> str:
    """The hyperplane matrix as SQL VALUES rows (p, wl DOUBLE[]) —
    generated from the same constants the Spark expression folds in."""
    from ulh_etl_spark.operators.similarity import hyperplane_weights

    rows = []
    for p, plane in enumerate(hyperplane_weights(_N_PLANES, _EMB_DIM)):
        wl = ", ".join(repr(w) for w in plane)
        rows.append(f"({p}, [{wl}]::DOUBLE[])")
    return ",\n                ".join(rows)


_PLANE_DOT = (
    "list_sum(list_transform(generate_series(1, len(e.embedding)), "
    "i -> CAST(e.embedding[i] AS DOUBLE) * pl.wl[i]))"
)

_HSIG_CTE = f"""
        planes(p, wl) AS (
            VALUES {_planes_values_sql()}
        ), sig AS (
            SELECT e.vec_id,
                   CAST(SUM(CASE WHEN {_PLANE_DOT} > 0
                                 THEN (1::BIGINT << pl.p) ELSE 0 END)
                        AS BIGINT) AS hsig
            FROM embeddings e CROSS JOIN planes pl
            GROUP BY e.vec_id
        )"""

# q39/q42 oracle bodies as standalone strings: q86 (IVF recall)
# nests both as subqueries, so the three stay in lockstep by
# construction.
_Q39_SQL = f"""
        WITH q AS (
            SELECT vec_id AS query_id, embedding AS q_vec
            FROM embeddings WHERE vec_id < {_N_QUERIES}
        ), scored AS (
            SELECT q.query_id, e.vec_id AS neighbor_id,
                   {_DOT} / ({_NORM_Q} * {_NORM_E}) AS cos_raw
            FROM q, embeddings e
            WHERE e.vec_id <> q.query_id
        ), ranked AS (
            SELECT query_id, neighbor_id, cos_raw,
                   row_number() OVER (PARTITION BY query_id
                                      ORDER BY cos_raw DESC, neighbor_id) AS rank
            FROM scored
        )
        SELECT query_id, neighbor_id, ROUND(cos_raw, 6) AS cosine,
               CAST(rank AS INT) AS rank
        FROM ranked WHERE rank <= {_K}
"""

_Q42_SQL = f"""
        WITH c AS (
            SELECT vec_id AS centroid_id, embedding AS centroid_vec
            FROM embeddings WHERE vec_id < {_N_CENTROIDS}
        ), assigned AS (
            SELECT vec_id, embedding, cell FROM (
                SELECT e.vec_id, e.embedding, c.centroid_id AS cell,
                       row_number() OVER (PARTITION BY e.vec_id
                                          ORDER BY {_SQDIST}, c.centroid_id) AS rn
                FROM embeddings e, c
            ) WHERE rn = 1
        ), q AS (
            SELECT vec_id AS query_id, embedding AS q_vec
            FROM embeddings WHERE vec_id < {_N_QUERIES}
        ), q_cells AS (
            SELECT query_id, q_vec, cell FROM (
                SELECT q.query_id, q.q_vec, c.centroid_id AS cell,
                       row_number() OVER (PARTITION BY q.query_id ORDER BY
                           list_sum(list_transform(generate_series(1, len(q.q_vec)),
                               i -> (CAST(q.q_vec[i] AS DOUBLE) - CAST(c.centroid_vec[i] AS DOUBLE))
                                  * (CAST(q.q_vec[i] AS DOUBLE) - CAST(c.centroid_vec[i] AS DOUBLE)))),
                           c.centroid_id) AS rn
                FROM q, c
            ) WHERE rn <= {_NPROBE}
        ), scored AS (
            SELECT qc.query_id, e.vec_id AS neighbor_id,
                   list_sum(list_transform(generate_series(1, len(qc.q_vec)),
                       i -> CAST(qc.q_vec[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE)))
                   / (sqrt(list_sum(list_transform(qc.q_vec, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
                      * sqrt(list_sum(list_transform(e.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))))
                   AS cos_raw
            FROM assigned e JOIN q_cells qc ON e.cell = qc.cell
            WHERE e.vec_id <> qc.query_id
        ), ranked AS (
            SELECT query_id, neighbor_id, cos_raw,
                   row_number() OVER (PARTITION BY query_id
                                      ORDER BY cos_raw DESC, neighbor_id) AS rank
            FROM scored
        )
        SELECT query_id, neighbor_id, ROUND(cos_raw, 6) AS cosine,
               CAST(rank AS INT) AS rank
        FROM ranked WHERE rank <= {_K}
"""

_PQ_DSUB = _EMB_DIM_PQ // _PQ_M

# Shared PQ CTE chain: deterministic codebook (first ksub vectors by
# id, sliced per subspace), per-(vector, subspace) nearest codeword
# (lowest-code tie-break — mirrors the array_min struct ordering).
_PQ_CTE = f"""
        seed AS (
            SELECT embedding,
                   row_number() OVER (ORDER BY vec_id) - 1 AS code
            FROM (SELECT vec_id, embedding FROM embeddings
                  ORDER BY vec_id LIMIT {_PQ_KSUB})
        ), cb AS (
            SELECT t.s AS subspace, seed.code,
                   list_transform(
                       seed.embedding[t.s*{_PQ_DSUB}+1 : (t.s+1)*{_PQ_DSUB}],
                       x -> CAST(x AS DOUBLE)) AS cvec
            FROM seed CROSS JOIN
                 (SELECT unnest(generate_series(0, {_PQ_M - 1})) AS s) t
        ), d AS (
            SELECT e.vec_id, c.subspace, c.code,
                   list_sum(list_transform(generate_series(1, {_PQ_DSUB}),
                       i -> (CAST(e.embedding[c.subspace*{_PQ_DSUB} + i] AS DOUBLE)
                             - c.cvec[i])
                          * (CAST(e.embedding[c.subspace*{_PQ_DSUB} + i] AS DOUBLE)
                             - c.cvec[i]))) AS dist
            FROM embeddings e CROSS JOIN cb c
        ), best AS (
            SELECT vec_id, subspace, code, dist,
                   row_number() OVER (PARTITION BY vec_id, subspace
                                      ORDER BY dist, code) AS rn
            FROM d
        )"""

_PQ_CODE_COLS = ", ".join(
    f"CAST(MAX(CASE WHEN subspace = {s} THEN code END) AS INT) AS code_{s}"
    for s in range(_PQ_M)
)
# left-associated sum, same order as the Spark expression
_PQ_RECON = "((d_0 + d_1) + d_2) + d_3"
_PQ_D_COLS = ", ".join(
    f"MAX(CASE WHEN subspace = {s} THEN dist END) AS d_{s}"
    for s in range(_PQ_M)
)

def _rp_cols_sql() -> str:
    """The reduced coordinates as SQL expressions — the SAME ±1 sign
    rows the Spark expression folds in (rp_signs), products summed by
    list_sum (the bit-stable _DOT precedent)."""
    from ulh_etl_spark.operators.similarity import rp_signs

    cols = []
    for k, row in enumerate(rp_signs(_RP_OUT_DIM, _EMB_DIM)):
        lits = ", ".join(f"CAST({s} AS DOUBLE)" for s in row)
        cols.append(
            "ROUND(list_sum(list_transform("
            f"generate_series(1, {_EMB_DIM}), "
            f"j -> CAST(embedding[j] AS DOUBLE) * ([{lits}])[j])), 6) "
            f"AS r{k:02d}"
        )
    return ",\n               ".join(cols)


# q159's full SELECT as a standalone string: q160 nests it, so the
# kNN graph and the cluster report stay in lockstep by construction.
_Q159_SQL = f"""
        WITH c AS (
            SELECT centroid_id, centroid_vec FROM {_ADAPTIVE_SEED_SQL}
        ), assigned AS (
            SELECT vec_id, embedding, cell FROM (
                SELECT e.vec_id, e.embedding, c.centroid_id AS cell,
                       row_number() OVER (PARTITION BY e.vec_id
                                          ORDER BY {_SQDIST}, c.centroid_id) AS rn
                FROM embeddings e, c
            ) WHERE rn = 1
        ), scored AS (
            SELECT a.vec_id, b.vec_id AS neighbor_id,
                   list_sum(list_transform(generate_series(1, len(a.embedding)),
                       i -> CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)))
                   / (sqrt(list_sum(list_transform(a.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
                      * sqrt(list_sum(list_transform(b.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))))
                   AS cos_raw
            FROM assigned a JOIN assigned b
              ON a.cell = b.cell AND a.vec_id <> b.vec_id
        ), ranked AS (
            SELECT vec_id, neighbor_id, cos_raw,
                   row_number() OVER (PARTITION BY vec_id
                                      ORDER BY cos_raw DESC, neighbor_id) AS rank
            FROM scored
        )
        SELECT vec_id, neighbor_id, ROUND(cos_raw, 6) AS cosine,
               CAST(rank AS INT) AS rank
        FROM ranked WHERE rank <= {_KNN_K}
"""

def _sqd(a: str, b: str) -> str:
    """Squared-L2 between two array expressions — the same
    sequential index-order fold as the engine's _sq_dist and the
    driver-side _py_sqdist, so all three agree bit-for-bit."""
    return (
        f"list_sum(list_transform(generate_series(1, len({a})), "
        f"i -> (CAST({a}[i] AS DOUBLE) - CAST({b}[i] AS DOUBLE))"
        f" * (CAST({a}[i] AS DOUBLE) - CAST({b}[i] AS DOUBLE))))"
    )


# Two-level assignment CTE chain (oracle twin of
# operators.similarity.ivf_assign_two_level + two_level_structure):
# coarse = the ceil(sqrt(C)) seed centroids with the smallest
# md5('co_' || id) (ties by id); every fine centroid joins its
# nearest coarse (f2c); every vector keeps its _COARSE_NPROBE
# nearest coarse groups (v2c) and the best fine across their UNION
# wins (assigned2 — a fine lives in exactly one group, so the join
# never duplicates a candidate). All tie-breaks by id; distances are
# the shared sequential fold.
_COARSE_NPROBE = 2


def _two_level_ctes(coarse_nprobe: int = _COARSE_NPROBE) -> str:
    """The two-level CTE chain, parameterized by how many coarse
    groups each vector probes — q204's recall-vs-cost sweep needs
    the identical rule at coarse_nprobe 2 AND 3; everything else
    uses the default via the _TWO_LEVEL_CTES constant."""
    return f"""seed AS MATERIALIZED (
            SELECT centroid_id, centroid_vec FROM {_ADAPTIVE_SEED_SQL}
        ), coarse AS MATERIALIZED (
            SELECT centroid_id AS co_id, centroid_vec AS co_vec
            FROM (
                SELECT s.*,
                       row_number() OVER (ORDER BY
                           {O.md5h("'co_' || CAST(centroid_id AS VARCHAR)")},
                           centroid_id) AS hrn,
                       COUNT(*) OVER () AS c_total
                FROM seed s
            ) WHERE hrn <= GREATEST(
                CAST(CEIL(SQRT(CAST(c_total AS DOUBLE))) AS BIGINT), 1)
        ), f2c AS MATERIALIZED (
            SELECT centroid_id, centroid_vec, co_id FROM (
                SELECT s.centroid_id, s.centroid_vec, c.co_id,
                       row_number() OVER (PARTITION BY s.centroid_id
                           ORDER BY {_sqd("s.centroid_vec", "c.co_vec")},
                                    c.co_id) AS rn
                FROM seed s, coarse c
            ) WHERE rn = 1
        ), v2c AS MATERIALIZED (
            SELECT vec_id, embedding, co_id FROM (
                SELECT e.vec_id, e.embedding, c.co_id,
                       row_number() OVER (PARTITION BY e.vec_id
                           ORDER BY {_sqd("e.embedding", "c.co_vec")},
                                    c.co_id) AS rn
                FROM embeddings e, coarse c
            ) WHERE rn <= {coarse_nprobe}
        ), rc2 AS MATERIALIZED (
            SELECT v.vec_id, v.embedding, f.centroid_id AS cell,
                   row_number() OVER (PARTITION BY v.vec_id
                       ORDER BY {_sqd("v.embedding", "f.centroid_vec")},
                                f.centroid_id) AS rn
            FROM v2c v JOIN f2c f ON v.co_id = f.co_id
        ), assigned2 AS MATERIALIZED (
            SELECT vec_id, embedding, cell FROM rc2 WHERE rn = 1
        )"""


_TWO_LEVEL_CTES = _two_level_ctes()

# q186/q187/q160: the multi-probe variants. _COS_AB is the exact
# cosine written once for (a, b)-aliased relations — the same op
# order as _Q159_SQL's scored CTE and the engine's _dot / (n1 * n2).
_COS_AB = (
    "list_sum(list_transform(generate_series(1, len(a.embedding)),\n"
    "                       i -> CAST(a.embedding[i] AS DOUBLE)"
    " * CAST(b.embedding[i] AS DOUBLE)))\n"
    "                   / (sqrt(list_sum(list_transform(a.embedding,"
    " x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))\n"
    "                      * sqrt(list_sum(list_transform(b.embedding,"
    " x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))))"
)

_Q198_SQL = f"""
        WITH {_TWO_LEVEL_CTES}, sizes AS (
            SELECT cell, CAST(COUNT(*) AS BIGINT) AS n
            FROM assigned2 GROUP BY cell
        )
        SELECT CAST(COUNT(*) AS BIGINT) AS n_cells,
               ROUND(AVG(CAST(n AS DOUBLE)), 6) AS avg_cell,
               CAST(MAX(n) AS BIGINT) AS max_cell,
               CAST(SUM(n * n) AS BIGINT) AS candidate_pairs
        FROM sizes
"""

# Two-level MULTI-probe kNN (the q186 shape on the two-level
# quantizer): probe side keeps each vector's top-nprobe fine cells
# WITHIN its 2-coarse-group union (rc2, rn <= nprobe — exactly the
# engine's sorted fine slice), index side stays rn = 1.
_Q186TL_SQL = f"""
        WITH {_TWO_LEVEL_CTES}, probes AS MATERIALIZED (
            SELECT vec_id, embedding, cell FROM rc2
            WHERE rn <= {_KNN_NPROBE}
        ), scored AS (
            SELECT a.vec_id, b.vec_id AS neighbor_id,
                   {_COS_AB} AS cos_raw
            FROM probes a JOIN assigned2 b
              ON a.cell = b.cell AND a.vec_id <> b.vec_id
        ), ranked AS (
            SELECT vec_id, neighbor_id, cos_raw,
                   row_number() OVER (PARTITION BY vec_id
                                      ORDER BY cos_raw DESC, neighbor_id) AS rank
            FROM scored
        )
        SELECT vec_id, neighbor_id, ROUND(cos_raw, 6) AS cosine,
               CAST(rank AS INT) AS rank
        FROM ranked WHERE rank <= {_KNN_K}
"""

# q199: _Q159_SQL's scored/ranked tail over the two-level assignment.
_Q199_SQL = f"""
        WITH {_TWO_LEVEL_CTES}, scored AS (
            SELECT a.vec_id, b.vec_id AS neighbor_id,
                   {_COS_AB} AS cos_raw
            FROM assigned2 a JOIN assigned2 b
              ON a.cell = b.cell AND a.vec_id <> b.vec_id
        ), ranked AS (
            SELECT vec_id, neighbor_id, cos_raw,
                   row_number() OVER (PARTITION BY vec_id
                                      ORDER BY cos_raw DESC, neighbor_id) AS rank
            FROM scored
        )
        SELECT vec_id, neighbor_id, ROUND(cos_raw, 6) AS cosine,
               CAST(rank AS INT) AS rank
        FROM ranked WHERE rank <= {_KNN_K}
"""

# Multi-probe kNN: identical to _Q159_SQL except the probe side keeps
# each vector's top-nprobe cells (rn <= nprobe) while the index side
# stays rn = 1 — a (q, n) candidate meets at most once because n has
# exactly one index cell. rc is MATERIALIZED: both sides read it.
_Q186_SQL = f"""
        WITH c AS (
            SELECT centroid_id, centroid_vec FROM {_ADAPTIVE_SEED_SQL}
        ), rc AS MATERIALIZED (
            SELECT e.vec_id, e.embedding, c.centroid_id AS cell,
                   row_number() OVER (PARTITION BY e.vec_id
                                      ORDER BY {_SQDIST}, c.centroid_id) AS rn
            FROM embeddings e, c
        ), assigned AS (
            SELECT vec_id, embedding, cell FROM rc WHERE rn = 1
        ), probes AS (
            SELECT vec_id, embedding, cell FROM rc WHERE rn <= {_KNN_NPROBE}
        ), scored AS (
            SELECT a.vec_id, b.vec_id AS neighbor_id,
                   {_COS_AB} AS cos_raw
            FROM probes a JOIN assigned b
              ON a.cell = b.cell AND a.vec_id <> b.vec_id
        ), ranked AS (
            SELECT vec_id, neighbor_id, cos_raw,
                   row_number() OVER (PARTITION BY vec_id
                                      ORDER BY cos_raw DESC, neighbor_id) AS rank
            FROM scored
        )
        SELECT vec_id, neighbor_id, ROUND(cos_raw, 6) AS cosine,
               CAST(rank AS INT) AS rank
        FROM ranked WHERE rank <= {_KNN_K}
"""

# Shared graph CTE chain: q159's kNN -> mutual edges -> both-direction
# adjacency -> degrees (the exact relations operators.graph consumes).
# AS MATERIALIZED: DuckDB inlines CTEs by default, so every later
# reference to ``adj`` (one per PageRank round / vote round) would
# re-evaluate the whole kNN cross-join — at sf0.1 that multiplied
# the working set past RAM (OOM in the sweep). Materializing pins
# each relation to ONE evaluation, mirroring the engine's persist().
def _graph_ctes(knn_sql: str) -> str:
    """The graph CTE chain over any kNN SELECT (q159's flat
    assignment or q199's two-level)."""
    return f"""
        WITH knn AS MATERIALIZED (
            {knn_sql}
        ), mut AS MATERIALIZED (
            SELECT f.vec_id AS id1, f.neighbor_id AS id2
            FROM knn f JOIN knn r
              ON f.vec_id = r.neighbor_id AND f.neighbor_id = r.vec_id
            WHERE f.vec_id < f.neighbor_id
        ), adj AS MATERIALIZED (
            SELECT id1 AS src, id2 AS dst FROM mut
            UNION ALL
            SELECT id2, id1 FROM mut
        ), deg AS MATERIALIZED (
            SELECT src, COUNT(*) AS deg FROM adj GROUP BY src
        )"""


_GRAPH_CTES = _graph_ctes(_Q159_SQL)


def _q220_oracle_sql() -> str:
    """q220's oracle: the HITS recursion unrolled — each half-step's
    gather SUM + the max-normalizing division written as the same
    operation sequence as operators.graph.hits; max (unlike an L2
    norm) is order-exact, so the only slack is the q169 neighbor-sum
    convention, absorbed by round(., 6)."""
    parts = [
        f"""
        WITH knn AS MATERIALIZED (
            {_Q199_SQL}
        ), e AS MATERIALIZED (
            SELECT vec_id AS s, neighbor_id AS d FROM knn
        ), n AS MATERIALIZED (
            SELECT s AS node FROM e
            UNION
            SELECT d FROM e
        ), h0 AS (SELECT node, 1.0 AS h FROM n)"""
    ]
    for i in range(1, _HITS_ITER + 1):
        parts.append(f"""
        , ar{i} AS MATERIALIZED (
            SELECT e.d, SUM(h{i - 1}.h) AS ar
            FROM e JOIN h{i - 1} ON e.s = h{i - 1}.node GROUP BY e.d
        ), a{i} AS MATERIALIZED (
            SELECT d AS node, ar / (SELECT MAX(ar) FROM ar{i}) AS a
            FROM ar{i}
        ), hr{i} AS MATERIALIZED (
            SELECT e.s, SUM(a{i}.a) AS hr
            FROM e JOIN a{i} ON e.d = a{i}.node GROUP BY e.s
        ), h{i} AS MATERIALIZED (
            SELECT s AS node, hr / (SELECT MAX(hr) FROM hr{i}) AS h
            FROM hr{i}
        )""")
    k = _HITS_ITER
    parts.append(f"""
        SELECT n.node,
               round(COALESCE(h{k}.h, 0.0), 6) AS hub,
               round(COALESCE(a{k}.a, 0.0), 6) AS authority
        FROM n
        LEFT JOIN h{k} ON n.node = h{k}.node
        LEFT JOIN a{k} ON n.node = a{k}.node
    """)
    return "".join(parts)


def _pagerank_oracle_sql(graph_ctes: str = _GRAPH_CTES) -> str:
    """q169's oracle: the engine's recursion unrolled — every float
    step written as the same operation sequence (base and init
    divisions included) so the only cross-engine slack is the
    neighbor-SUM partial order, absorbed by the final round.
    q200 passes the two-level graph chain instead."""
    d = repr(_PR_DAMPING)
    ctes = [
        "n AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM deg)",
        "r0 AS (SELECT src, deg, (1.0 / n.n) / CAST(deg AS DOUBLE)"
        " AS contrib FROM deg CROSS JOIN n)",
    ]
    for i in range(1, _PR_ITER + 1):
        ctes.append(
            f"g{i} AS (SELECT a.dst, SUM(r.contrib) AS gathered"
            f" FROM adj a JOIN r{i - 1} r ON a.src = r.src GROUP BY a.dst)"
        )
        ctes.append(
            f"r{i} AS (SELECT dd.src, dd.deg,"
            f" (((1.0 - {d}) / n.n) + {d} * g.gathered)"
            f" / CAST(dd.deg AS DOUBLE) AS contrib"
            f" FROM deg dd JOIN g{i} g ON dd.src = g.dst CROSS JOIN n)"
        )
    return f"""
        {graph_ctes},
        {", ".join(ctes)}
        SELECT src AS node, CAST(deg AS BIGINT) AS degree,
               ROUND(contrib * CAST(deg AS DOUBLE), 6) AS pagerank
        FROM r{_PR_ITER}
    """


_GRAPH_CTES_TL = _graph_ctes(_Q199_SQL)


def _triangle_sql(graph_ctes: str = _GRAPH_CTES) -> str:
    return f"""
        {graph_ctes},
        oriented AS (
            SELECT CASE WHEN (da.deg < db.deg)
                          OR (da.deg = db.deg AND m.id1 < m.id2)
                        THEN m.id1 ELSE m.id2 END AS lo,
                   CASE WHEN (da.deg < db.deg)
                          OR (da.deg = db.deg AND m.id1 < m.id2)
                        THEN m.id2 ELSE m.id1 END AS hi
            FROM mut m
            JOIN deg da ON m.id1 = da.src
            JOIN deg db ON m.id2 = db.src
        ), wedges AS (
            SELECT w1.lo AS pv, w1.hi AS u, w2.hi AS v
            FROM oriented w1 JOIN oriented w2 ON w1.lo = w2.lo
            WHERE w1.hi < w2.hi
        ), tris AS (
            SELECT w.pv, w.u, w.v
            FROM wedges w
            JOIN (SELECT LEAST(lo, hi) AS u, GREATEST(lo, hi) AS v
                  FROM oriented) c
              ON w.u = c.u AND w.v = c.v
        ), corners AS (
            SELECT pv AS node FROM tris
            UNION ALL SELECT u FROM tris
            UNION ALL SELECT v FROM tris
        ), per AS (
            SELECT node, COUNT(*) AS t FROM corners GROUP BY node
        )
        SELECT d.src AS node, CAST(d.deg AS BIGINT) AS degree,
               CAST(COALESCE(p.t, 0) AS BIGINT) AS n_triangles,
               ROUND(CASE WHEN d.deg < 2 THEN 0.0
                     ELSE 2.0 * CAST(COALESCE(p.t, 0) AS DOUBLE)
                          / (CAST(d.deg AS DOUBLE)
                             * (CAST(d.deg AS DOUBLE) - 1.0)) END,
                     6) AS clustering
        FROM deg d LEFT JOIN per p ON d.src = p.node
"""


_KS_SQL = f"""
        WITH expl AS (
            SELECT CAST(vec_id % 2 AS INT) AS snap,
                   CAST(g.i - 1 AS INT) AS dim,
                   CAST(embedding[g.i] AS DOUBLE) AS x
            FROM embeddings CROSS JOIN generate_series(1, {_KS_DIMS}) AS g(i)
        ), scored AS (
            SELECT dim,
                   SUM(CASE WHEN snap = 0 THEN 1 ELSE 0 END)
                       OVER (PARTITION BY dim ORDER BY x) AS cum_r,
                   SUM(CASE WHEN snap = 1 THEN 1 ELSE 0 END)
                       OVER (PARTITION BY dim ORDER BY x) AS cum_c,
                   SUM(CASE WHEN snap = 0 THEN 1 ELSE 0 END)
                       OVER (PARTITION BY dim) AS n_ref,
                   SUM(CASE WHEN snap = 1 THEN 1 ELSE 0 END)
                       OVER (PARTITION BY dim) AS n_cur
            FROM expl
        )
        SELECT dim,
               CAST(MAX(n_ref) AS BIGINT) AS n_ref,
               CAST(MAX(n_cur) AS BIGINT) AS n_cur,
               ROUND(MAX(ABS(CAST(cum_r AS DOUBLE) / CAST(n_ref AS DOUBLE)
                             - CAST(cum_c AS DOUBLE) / CAST(n_cur AS DOUBLE))),
                     6) AS ks
        FROM scored GROUP BY dim
"""



def _kcore_oracle_sql() -> str:
    """Unrolled k-core peels over the two-level kNN graph chain —
    the same synchronous rule as operators.graph.kcore_peel: degree
    from the surviving edges, drop deg < k, drop touched edges."""
    k, rounds = _KCORE_K, _KCORE_ROUNDS
    ctes = [
        "e0 AS MATERIALIZED (SELECT id1, id2 FROM mut)",
        "n0 AS (SELECT COUNT(DISTINCT node) AS nn FROM "
        "(SELECT id1 AS node FROM e0 UNION ALL SELECT id2 FROM e0))",
    ]
    rows = [
        "SELECT CAST(0 AS INT) AS round, "
        "CAST((SELECT nn FROM n0) AS BIGINT) AS nodes_remaining, "
        "CAST((SELECT COUNT(*) FROM e0) AS BIGINT) AS edges_remaining"
    ]
    for r in range(1, rounds + 1):
        p = r - 1
        ctes.append(
            f"d{r} AS MATERIALIZED (SELECT node, COUNT(*) AS deg FROM "
            f"(SELECT id1 AS node FROM e{p} UNION ALL "
            f"SELECT id2 FROM e{p}) GROUP BY node)"
        )
        ctes.append(
            f"a{r} AS MATERIALIZED "
            f"(SELECT node FROM d{r} WHERE deg >= {k})"
        )
        ctes.append(
            f"e{r} AS MATERIALIZED (SELECT id1, id2 FROM e{p} "
            f"WHERE id1 IN (SELECT node FROM a{r}) "
            f"AND id2 IN (SELECT node FROM a{r}))"
        )
        rows.append(
            f"SELECT CAST({r} AS INT), "
            f"CAST((SELECT COUNT(*) FROM a{r}) AS BIGINT), "
            f"CAST((SELECT COUNT(*) FROM e{r}) AS BIGINT)"
        )
    return (
        _GRAPH_CTES_TL
        + ",\n        "
        + ",\n        ".join(ctes)
        + "\n        "
        + "\n        UNION ALL ".join(rows)
    )


def _nnd_rounds_ctes(n_rounds: int) -> str:
    """The unrolled NN-Descent round CTEs (the q115/q190
    fold-vs-unrolled pattern — each round is the q188 CTE chain
    reading the previous round's g{i}); shared by the q201 plateau
    oracle and the q205 random-init oracle. Expects a g0 CTE with
    (vec_id, neighbor_id)."""
    return ", ".join(
        f"""fwd{i} AS (
            SELECT vec_id AS src, neighbor_id AS dst FROM g{i - 1}
        ), und{i} AS MATERIALIZED (
            SELECT DISTINCT src, dst FROM (
                SELECT src, dst FROM fwd{i}
                UNION ALL SELECT dst, src FROM fwd{i}
            ) AS t
        ), cand{i} AS MATERIALIZED (
            SELECT DISTINCT q, n FROM (
                SELECT x.src AS q, y.dst AS n
                FROM und{i} x JOIN und{i} y ON x.dst = y.src
                WHERE x.src <> y.dst
                UNION ALL
                SELECT src, dst FROM fwd{i}
            ) AS t
        ), scored{i} AS (
            SELECT c.q AS vec_id, c.n AS neighbor_id, {_COS_AB} AS cos_raw
            FROM cand{i} c
            JOIN embeddings a ON c.q = a.vec_id
            JOIN embeddings b ON c.n = b.vec_id
        ), g{i} AS MATERIALIZED (
            SELECT vec_id, neighbor_id FROM (
                SELECT vec_id, neighbor_id,
                       row_number() OVER (PARTITION BY vec_id
                                          ORDER BY cos_raw DESC, neighbor_id) AS rank
                FROM scored{i}
            ) WHERE rank <= {_KNN_K}
        )"""
        for i in range(1, n_rounds + 1)
    )


def _nnd_recall_union(n_rounds: int) -> str:
    """One recall row per unrolled graph level g0..g{n} against the
    ``brute`` CTE — the integer-hit-sum + single-division arithmetic
    q201 pinned (bit-stable cross-engine)."""
    return "\nUNION ALL\n".join(
        f"""
        SELECT CAST({i} AS INT) AS round,
               ROUND(CAST(SUM(CASE WHEN g.vec_id IS NOT NULL
                                   THEN 1 ELSE 0 END) AS BIGINT)
                     / CAST(COUNT(*) AS DOUBLE), 6) AS mean_recall
        FROM brute br
        LEFT JOIN g{i} g ON br.query_id = g.vec_id
                        AND br.neighbor_id = g.neighbor_id
        """
        for i in range(n_rounds + 1)
    )


_BRUTE_CTES = f"""bs AS (
            SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
                   {_COS_AB} AS cos_raw
            FROM embeddings a JOIN embeddings b ON a.vec_id <> b.vec_id
            WHERE a.vec_id < {_KNN_AUDIT_Q}
        ), brute AS MATERIALIZED (
            SELECT query_id, neighbor_id FROM (
                SELECT query_id, neighbor_id,
                       row_number() OVER (PARTITION BY query_id
                                          ORDER BY cos_raw DESC, neighbor_id) AS rank
                FROM bs
            ) WHERE rank <= {_KNN_K}
        )"""


def _nnd_plateau_oracle_sql() -> str:
    """q201's oracle: the q186 seed, then _NND_ROUNDS NN-Descent
    rounds unrolled, then one recall row per graph level against
    brute force."""
    return f"""
        WITH seed AS MATERIALIZED (
            {_Q186TL_SQL}
        ), g0 AS MATERIALIZED (
            SELECT vec_id, neighbor_id FROM seed
        ), {_nnd_rounds_ctes(_NND_ROUNDS)}, {_BRUTE_CTES}
        {_nnd_recall_union(_NND_ROUNDS)}
    """


def _q204_oracle_sql() -> str:
    """q204's oracle: one parenthesized WITH-block per
    (coarse_nprobe, nprobe) config — the two-level chain at that
    coarse_nprobe, the top-nprobe probe set, the exact pair-count
    formula (sum of probed index-cell sizes minus the N self-pairs),
    the q186-shaped kNN tail, and the shared recall arithmetic."""
    blocks = []
    for cnp, np_ in _RVC_CONFIGS:
        blocks.append(f"""(
        WITH {_two_level_ctes(cnp)}, probes AS MATERIALIZED (
            SELECT vec_id, embedding, cell FROM rc2 WHERE rn <= {np_}
        ), sizes AS (
            SELECT cell, COUNT(*) AS n FROM assigned2 GROUP BY cell
        ), pairs AS (
            SELECT CAST(SUM(s.n) AS BIGINT)
                   - (SELECT COUNT(*) FROM embeddings)
                   AS candidate_pairs
            FROM probes p JOIN sizes s ON p.cell = s.cell
        ), scored AS (
            SELECT a.vec_id, b.vec_id AS neighbor_id,
                   {_COS_AB} AS cos_raw
            FROM probes a JOIN assigned2 b
              ON a.cell = b.cell AND a.vec_id <> b.vec_id
        ), g AS (
            SELECT vec_id, neighbor_id FROM (
                SELECT vec_id, neighbor_id,
                       row_number() OVER (PARTITION BY vec_id
                           ORDER BY cos_raw DESC, neighbor_id) AS rank
                FROM scored
            ) WHERE rank <= {_KNN_K}
        ), {_BRUTE_CTES}, rec AS (
            SELECT ROUND(CAST(SUM(CASE WHEN g.vec_id IS NOT NULL
                                        THEN 1 ELSE 0 END) AS BIGINT)
                         / CAST(COUNT(*) AS DOUBLE), 6) AS mean_recall
            FROM brute br
            LEFT JOIN g ON br.query_id = g.vec_id
                       AND br.neighbor_id = g.neighbor_id
        )
        SELECT CAST({cnp} AS INT) AS coarse_nprobe,
               CAST({np_} AS INT) AS nprobe,
               rec.mean_recall,
               CAST(pairs.candidate_pairs AS BIGINT) AS candidate_pairs
        FROM rec CROSS JOIN pairs
        )""")
    return "\nUNION ALL\n".join(blocks)


def _q205_oracle_sql() -> str:
    """q205's oracle: the GLOBAL hash-ring random seed (one cycle
    over all N ids ordered by (md5 hash, id); edge d connects each
    vector to the ring position stride_d = 1 + md5('rnds_d') % (N-1)
    ahead, mod N), then the shared unrolled NN-Descent rounds and
    recall union. Global ring + spread strides on purpose — the
    bucketed and consecutive-successor variants were measured as
    (near-)closed candidate worlds (operator docstring)."""
    stride_rows = "\n            UNION ALL ".join(
        "SELECT ({h} % (n - 1)) + 1 AS s FROM nstats".format(
            h=O.md5h("'rnds_%d'" % d)
        )
        for d in range(1, _KNN_K + 1)
    )
    ring = f"""rb AS (
            SELECT vec_id,
                   {O.md5h("'rnd_' || CAST(vec_id AS VARCHAR)")} AS h
            FROM embeddings
        ), rr AS MATERIALIZED (
            SELECT vec_id,
                   row_number() OVER (ORDER BY h, vec_id) AS rn
            FROM rb
        ), nstats AS (
            SELECT COUNT(*) AS n FROM embeddings
        ), strides AS (
            {stride_rows}
        ), tgt AS (
            SELECT a.vec_id, ((a.rn - 1 + st.s) % s2.n) + 1 AS trn
            FROM rr a
            CROSS JOIN strides st
            CROSS JOIN nstats s2
        ), g0 AS MATERIALIZED (
            SELECT DISTINCT t.vec_id, b.vec_id AS neighbor_id
            FROM tgt t JOIN rr b ON b.rn = t.trn
            WHERE t.vec_id <> b.vec_id
        )"""
    return f"""
        WITH {ring}, {_nnd_rounds_ctes(_NND_ROUNDS)}, {_BRUTE_CTES}
        {_nnd_recall_union(_NND_ROUNDS)}
    """


ORACLES = {
    "q207_pca_top_component": _q207_oracle_sql(),
    "q209_kcore_peel": _kcore_oracle_sql(),
    "q210_kmeans_parallel_init": _q210_oracle_sql(),
    "q211_kmeans_parallel_recluster": _q211_oracle_sql(),
    "q181_embedding_outliers": f"""
        WITH c AS (
            SELECT vec_id AS centroid_id, embedding AS centroid_vec
            FROM embeddings WHERE vec_id < {_N_CENTROIDS}
        ), d AS (
            SELECT e.vec_id, c.centroid_id AS cell, {_SQDIST} AS dist
            FROM embeddings e, c
        ), assigned AS (
            SELECT vec_id, cell, dist,
                   row_number() OVER (PARTITION BY vec_id
                                      ORDER BY dist, cell) AS rn
            FROM d
        ), a AS (
            SELECT vec_id, cell, dist FROM assigned WHERE rn = 1
        ), st AS (
            SELECT cell, COUNT(*) AS cnt, SUM(dist) AS s,
                   SUM(dist * dist) AS sq,
                   MIN(dist) AS mn, MAX(dist) AS mx
            FROM a GROUP BY cell
        ), j AS (
            SELECT a.vec_id, a.cell, a.dist, st.cnt, st.s, st.mn, st.mx,
                   GREATEST(0.0, st.sq - st.s * st.s / CAST(st.cnt AS DOUBLE))
                       / (CAST(st.cnt AS DOUBLE) - 1.0) AS var
            FROM a JOIN st USING (cell)
        )
        SELECT vec_id, cell, ROUND(dist, 6) AS dist,
               ROUND(CASE WHEN cnt >= {_OUT_MIN_CELL} AND mn <> mx AND var > 0
                     THEN (dist - s / CAST(cnt AS DOUBLE)) / sqrt(var)
                     END, 6) AS z,
               COALESCE(CASE WHEN cnt >= {_OUT_MIN_CELL} AND mn <> mx AND var > 0
                     THEN (dist - s / CAST(cnt AS DOUBLE)) / sqrt(var)
                          > {_OUT_Z!r}
                     END, FALSE) AS is_outlier
        FROM j
    """,
    "q175_label_propagation": f"""
        {_GRAPH_CTES_TL},
        seeds AS (
            SELECT d.src AS node, CAST(e.label AS INT) AS seed_label
            FROM deg d JOIN embeddings e ON d.src = e.vec_id
            WHERE e.vec_id % 5 = 0
        ), a0 AS (
            SELECT d.src AS node, s.seed_label AS label
            FROM deg d LEFT JOIN seeds s ON d.src = s.node
        ), v1 AS (
            SELECT a.dst, x.label, COUNT(*) AS n
            FROM adj a JOIN a0 x ON a.src = x.node
            WHERE x.label IS NOT NULL
            GROUP BY a.dst, x.label
        ), m1 AS (
            SELECT dst AS node, label FROM (
                SELECT dst, label,
                       row_number() OVER (PARTITION BY dst
                                          ORDER BY n DESC, label) AS rn
                FROM v1
            ) WHERE rn = 1
        ), a1 AS (
            SELECT d.src AS node,
                   COALESCE(s.seed_label, m.label) AS label
            FROM deg d
            LEFT JOIN seeds s ON d.src = s.node
            LEFT JOIN m1 m ON d.src = m.node
        ), v2 AS (
            SELECT a.dst, x.label, COUNT(*) AS n
            FROM adj a JOIN a1 x ON a.src = x.node
            WHERE x.label IS NOT NULL
            GROUP BY a.dst, x.label
        ), m2 AS (
            SELECT dst AS node, label FROM (
                SELECT dst, label,
                       row_number() OVER (PARTITION BY dst
                                          ORDER BY n DESC, label) AS rn
                FROM v2
            ) WHERE rn = 1
        ), a2 AS (
            SELECT d.src AS node,
                   COALESCE(s.seed_label, m.label) AS label
            FROM deg d
            LEFT JOIN seeds s ON d.src = s.node
            LEFT JOIN m2 m ON d.src = m.node
        )
        SELECT a.node, a.label, (s.node IS NOT NULL) AS is_seed
        FROM a2 a LEFT JOIN seeds s ON a.node = s.node
    """,
    "q169_knn_pagerank": _pagerank_oracle_sql(_GRAPH_CTES_TL),
    "q220_knn_hits": _q220_oracle_sql(),
    "q221_knn_hubness": f"""
        WITH knn AS MATERIALIZED (
            {_Q199_SQL}
        ), ind AS (
            SELECT neighbor_id, COUNT(*) AS k FROM knn GROUP BY 1
        )
        SELECT CAST(k_occurrence AS BIGINT) AS k_occurrence,
               CAST(COUNT(*) AS BIGINT) AS n_vectors
        FROM (
            SELECT COALESCE(i.k, 0) AS k_occurrence
            FROM embeddings v LEFT JOIN ind i
              ON v.vec_id = i.neighbor_id
        ) GROUP BY k_occurrence
    """,
    "q233_knn_assortativity": f"""
        WITH knn AS MATERIALIZED (
            {_Q186TL_SQL}
        ), mut AS (
            SELECT f.vec_id AS id1, f.neighbor_id AS id2
            FROM knn f JOIN knn r
              ON f.vec_id = r.neighbor_id AND f.neighbor_id = r.vec_id
            WHERE f.vec_id < f.neighbor_id
        ), und AS MATERIALIZED (
            SELECT id1 AS a, id2 AS b FROM mut
            UNION ALL
            SELECT id2, id1 FROM mut
        ), deg AS (
            SELECT a, CAST(COUNT(*) AS BIGINT) AS d FROM und GROUP BY a
        ), e AS (
            SELECT dx.d AS dxv, dy.d AS dyv
            FROM und u JOIN deg dx ON u.a = dx.a
                       JOIN deg dy ON u.b = dy.a
        ), s AS (
            SELECT CAST(COUNT(*) AS BIGINT) AS m,
                   CAST(SUM(dxv) AS BIGINT) AS sx,
                   CAST(SUM(dyv) AS BIGINT) AS sy,
                   CAST(SUM(dxv * dyv) AS BIGINT) AS sxy,
                   CAST(SUM(dxv * dxv) AS BIGINT) AS sxx,
                   CAST(SUM(dyv * dyv) AS BIGINT) AS syy
            FROM e
        )
        SELECT m AS n_directed_edges,
               ROUND((CAST(m AS DOUBLE) * CAST(sxy AS DOUBLE)
                      - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                     / (sqrt(CAST(m AS DOUBLE) * CAST(sxx AS DOUBLE)
                             - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                        * sqrt(CAST(m AS DOUBLE) * CAST(syy AS DOUBLE)
                               - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))),
                     6) AS assortativity
        FROM s
    """,
    "q231_cluster_edge_density": f"""
        WITH RECURSIVE knn AS MATERIALIZED (
            {_Q186TL_SQL}
        ), mut AS MATERIALIZED (
            SELECT f.vec_id AS id1, f.neighbor_id AS id2
            FROM knn f JOIN knn r
              ON f.vec_id = r.neighbor_id AND f.neighbor_id = r.vec_id
            WHERE f.vec_id < f.neighbor_id
        ), edges AS MATERIALIZED (
            SELECT id1 AS a, id2 AS b FROM mut
            UNION
            SELECT id2, id1 FROM mut
        ), reach(src, dst) AS (
            SELECT a, a FROM edges
            UNION
            SELECT r.src, e.b FROM reach r JOIN edges e ON r.dst = e.a
        ), comp AS (
            SELECT src AS node, MIN(dst) AS component
            FROM reach GROUP BY src
        ), mc AS (
            SELECT component, CAST(COUNT(*) AS BIGINT) AS n_members
            FROM comp GROUP BY component
        ), ec AS (
            SELECT c.component, CAST(COUNT(*) AS BIGINT) AS n_edges
            FROM mut m JOIN comp c ON m.id1 = c.node
            GROUP BY c.component
        )
        SELECT mc.component, mc.n_members, ec.n_edges,
               ROUND(ec.n_edges * 2.0
                     / (CAST(mc.n_members AS DOUBLE)
                        * CAST(mc.n_members - 1 AS DOUBLE)), 6) AS density
        FROM mc JOIN ec ON mc.component = ec.component
    """,
    "q227_knn_label_agreement": f"""
        WITH knn AS MATERIALIZED (
            {_Q199_SQL}
        ), e AS (
            SELECT k.vec_id, a.label AS la, b.label AS lb
            FROM knn k
            JOIN embeddings a ON k.vec_id = a.vec_id
            JOIN embeddings b ON k.neighbor_id = b.vec_id
        )
        SELECT CAST(la AS BIGINT) AS label,
               CAST(COUNT(DISTINCT vec_id) AS BIGINT) AS n_vectors,
               CAST(COUNT(*) AS BIGINT) AS n_edges,
               CAST(SUM(CASE WHEN la = lb THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_same_label,
               ROUND(SUM(CASE WHEN la = lb THEN 1 ELSE 0 END) * 1.0
                     / COUNT(*), 6) AS agreement
        FROM e GROUP BY la
    """,
    "q170_knn_triangles": _triangle_sql(_GRAPH_CTES_TL),
    "q198_two_level_cells": _Q198_SQL,
    "q199_knn_graph_two_level": _Q199_SQL,
    "q200_knn_pagerank_two_level": _pagerank_oracle_sql(
        _graph_ctes(_Q199_SQL)
    ),
    "q174_embedding_ks_drift": _KS_SQL,
    "q168_embedding_drift": _psi_oracle_sql(),
    "q159_knn_graph": _Q159_SQL,
    "q197_cell_skew_canary": f"""
        WITH c AS (
            SELECT centroid_id, centroid_vec FROM {_ADAPTIVE_SEED_SQL}
        ), assigned AS (
            SELECT vec_id, cell FROM (
                SELECT e.vec_id, c.centroid_id AS cell,
                       row_number() OVER (PARTITION BY e.vec_id
                                          ORDER BY {_SQDIST}, c.centroid_id) AS rn
                FROM embeddings e, c
            ) WHERE rn = 1
        ), sizes AS (
            SELECT cell, CAST(COUNT(*) AS BIGINT) AS n
            FROM assigned GROUP BY cell
        )
        SELECT CAST(COUNT(*) AS BIGINT) AS n_cells,
               ROUND(AVG(CAST(n AS DOUBLE)), 6) AS avg_cell,
               CAST(MAX(n) AS BIGINT) AS max_cell,
               CAST(SUM(n * n) AS BIGINT) AS candidate_pairs
        FROM sizes
    """,
    "q186_knn_graph_multiprobe": _Q186_SQL,
    "q187_knn_recall_uplift": f"""
        WITH c AS (
            SELECT centroid_id, centroid_vec FROM {_ADAPTIVE_SEED_SQL}
        ), rc AS MATERIALIZED (
            SELECT e.vec_id, e.embedding, c.centroid_id AS cell,
                   row_number() OVER (PARTITION BY e.vec_id
                                      ORDER BY {_SQDIST}, c.centroid_id) AS rn
            FROM embeddings e, c
        ), assigned AS MATERIALIZED (
            SELECT vec_id, embedding, cell FROM rc WHERE rn = 1
        ), bs AS (
            SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
                   {_COS_AB} AS cos_raw
            FROM embeddings a JOIN embeddings b ON a.vec_id <> b.vec_id
            WHERE a.vec_id < {_KNN_AUDIT_Q}
        ), brute AS MATERIALIZED (
            SELECT query_id, neighbor_id FROM (
                SELECT query_id, neighbor_id,
                       row_number() OVER (PARTITION BY query_id
                                          ORDER BY cos_raw DESC, neighbor_id) AS rank
                FROM bs
            ) WHERE rank <= {_KNN_K}
        ), s1 AS (
            SELECT a.vec_id, b.vec_id AS neighbor_id, {_COS_AB} AS cos_raw
            FROM assigned a JOIN assigned b
              ON a.cell = b.cell AND a.vec_id <> b.vec_id
            WHERE a.vec_id < {_KNN_AUDIT_Q}
        ), knn1 AS (
            SELECT vec_id, neighbor_id FROM (
                SELECT vec_id, neighbor_id,
                       row_number() OVER (PARTITION BY vec_id
                                          ORDER BY cos_raw DESC, neighbor_id) AS rank
                FROM s1
            ) WHERE rank <= {_KNN_K}
        ), s2 AS (
            SELECT a.vec_id, b.vec_id AS neighbor_id, {_COS_AB} AS cos_raw
            FROM (SELECT vec_id, embedding, cell FROM rc
                  WHERE rn <= {_KNN_NPROBE} AND vec_id < {_KNN_AUDIT_Q}) a
            JOIN assigned b ON a.cell = b.cell AND a.vec_id <> b.vec_id
        ), knn2 AS (
            SELECT vec_id, neighbor_id FROM (
                SELECT vec_id, neighbor_id,
                       row_number() OVER (PARTITION BY vec_id
                                          ORDER BY cos_raw DESC, neighbor_id) AS rank
                FROM s2
            ) WHERE rank <= {_KNN_K}
        )
        SELECT br.query_id,
               ROUND(CAST(SUM(CASE WHEN k1.vec_id IS NOT NULL
                                   THEN 1 ELSE 0 END) AS BIGINT)
                     / {float(_KNN_K)!r}, 6) AS recall_single,
               ROUND(CAST(SUM(CASE WHEN k2.vec_id IS NOT NULL
                                   THEN 1 ELSE 0 END) AS BIGINT)
                     / {float(_KNN_K)!r}, 6) AS recall_multi
        FROM brute br
        LEFT JOIN knn1 k1 ON br.query_id = k1.vec_id
                         AND br.neighbor_id = k1.neighbor_id
        LEFT JOIN knn2 k2 ON br.query_id = k2.vec_id
                         AND br.neighbor_id = k2.neighbor_id
        GROUP BY br.query_id
    """,
    "q201_nn_descent_plateau": _nnd_plateau_oracle_sql(),
    "q204_recall_cost_curve": _q204_oracle_sql(),
    "q205_nn_descent_random_init": _q205_oracle_sql(),
    "q188_nn_descent": f"""
        WITH seed AS MATERIALIZED (
            {_Q186TL_SQL}
        ), fwd AS (
            SELECT vec_id AS src, neighbor_id AS dst FROM seed
        ), und AS MATERIALIZED (
            SELECT DISTINCT src, dst FROM (
                SELECT src, dst FROM fwd
                UNION ALL SELECT dst, src FROM fwd
            ) AS t
        ), cand AS MATERIALIZED (
            SELECT DISTINCT q, n FROM (
                SELECT x.src AS q, y.dst AS n
                FROM und x JOIN und y ON x.dst = y.src
                WHERE x.src <> y.dst
                UNION ALL
                SELECT src, dst FROM fwd
            ) AS t
        ), scored AS (
            SELECT c.q AS vec_id, c.n AS neighbor_id, {_COS_AB} AS cos_raw
            FROM cand c
            JOIN embeddings a ON c.q = a.vec_id
            JOIN embeddings b ON c.n = b.vec_id
        ), ranked AS (
            SELECT vec_id, neighbor_id, cos_raw,
                   row_number() OVER (PARTITION BY vec_id
                                      ORDER BY cos_raw DESC, neighbor_id) AS rank
            FROM scored
        )
        SELECT vec_id, neighbor_id, ROUND(cos_raw, 6) AS cosine,
               CAST(rank AS INT) AS rank
        FROM ranked WHERE rank <= {_KNN_K}
    """,
    "q189_nn_descent_recall": f"""
        WITH seed AS MATERIALIZED (
            {_Q186TL_SQL}
        ), fwd AS (
            SELECT vec_id AS src, neighbor_id AS dst FROM seed
        ), und AS MATERIALIZED (
            SELECT DISTINCT src, dst FROM (
                SELECT src, dst FROM fwd
                UNION ALL SELECT dst, src FROM fwd
            ) AS t
        ), cand AS MATERIALIZED (
            SELECT DISTINCT q, n FROM (
                SELECT x.src AS q, y.dst AS n
                FROM und x JOIN und y ON x.dst = y.src
                WHERE x.src <> y.dst AND x.src < {_KNN_AUDIT_Q}
                UNION ALL
                SELECT src, dst FROM fwd WHERE src < {_KNN_AUDIT_Q}
            ) AS t
        ), rscored AS (
            SELECT c.q AS vec_id, c.n AS neighbor_id, {_COS_AB} AS cos_raw
            FROM cand c
            JOIN embeddings a ON c.q = a.vec_id
            JOIN embeddings b ON c.n = b.vec_id
        ), refined AS MATERIALIZED (
            SELECT vec_id, neighbor_id FROM (
                SELECT vec_id, neighbor_id,
                       row_number() OVER (PARTITION BY vec_id
                                          ORDER BY cos_raw DESC, neighbor_id) AS rank
                FROM rscored
            ) WHERE rank <= {_KNN_K}
        ), bs AS (
            SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
                   {_COS_AB} AS cos_raw
            FROM embeddings a JOIN embeddings b ON a.vec_id <> b.vec_id
            WHERE a.vec_id < {_KNN_AUDIT_Q}
        ), brute AS MATERIALIZED (
            SELECT query_id, neighbor_id FROM (
                SELECT query_id, neighbor_id,
                       row_number() OVER (PARTITION BY query_id
                                          ORDER BY cos_raw DESC, neighbor_id) AS rank
                FROM bs
            ) WHERE rank <= {_KNN_K}
        )
        SELECT br.query_id,
               ROUND(CAST(SUM(CASE WHEN s.vec_id IS NOT NULL
                                   THEN 1 ELSE 0 END) AS BIGINT)
                     / {float(_KNN_K)!r}, 6) AS recall_seed,
               ROUND(CAST(SUM(CASE WHEN r.vec_id IS NOT NULL
                                   THEN 1 ELSE 0 END) AS BIGINT)
                     / {float(_KNN_K)!r}, 6) AS recall_refined
        FROM brute br
        LEFT JOIN seed s ON br.query_id = s.vec_id
                        AND br.neighbor_id = s.neighbor_id
        LEFT JOIN refined r ON br.query_id = r.vec_id
                           AND br.neighbor_id = r.neighbor_id
        GROUP BY br.query_id
    """,
    "q160_semantic_clusters": f"""
        WITH RECURSIVE knn AS MATERIALIZED (
            {_Q186TL_SQL}
        ), mut AS (
            SELECT f.vec_id AS id1, f.neighbor_id AS id2
            FROM knn f JOIN knn r
              ON f.vec_id = r.neighbor_id AND f.neighbor_id = r.vec_id
            WHERE f.vec_id < f.neighbor_id
        ), edges AS MATERIALIZED (
            SELECT id1 AS a, id2 AS b FROM mut
            UNION
            SELECT id2, id1 FROM mut
        ), reach(src, dst) AS (
            SELECT a, a FROM edges
            UNION
            SELECT r.src, e.b FROM reach r JOIN edges e ON r.dst = e.a
        ), comp AS (
            SELECT src AS node, MIN(dst) AS component
            FROM reach GROUP BY src
        )
        SELECT component, CAST(COUNT(*) AS BIGINT) AS n_members
        FROM comp GROUP BY component
    """,
    "q146_random_projection": f"""
        SELECT vec_id,
               {_rp_cols_sql()}
        FROM embeddings
    """,
    "q138_kcenter_coreset": """
        WITH c0 AS (
            SELECT vec_id, embedding FROM embeddings ORDER BY vec_id LIMIT 1
        ),
        d0 AS (
            SELECT e.vec_id, e.embedding, list_sum(list_transform(generate_series(1, len(e.embedding)), i -> (CAST(e.embedding[i] AS DOUBLE) - CAST(c.embedding[i] AS DOUBLE)) * (CAST(e.embedding[i] AS DOUBLE) - CAST(c.embedding[i] AS DOUBLE)))) AS mind
            FROM embeddings e CROSS JOIN c0 c
        ),
        c1 AS (
            SELECT vec_id, embedding, mind FROM d0
            ORDER BY mind DESC, vec_id LIMIT 1
        ),
        d1 AS (
            SELECT d.vec_id, d.embedding,
                   least(d.mind, list_sum(list_transform(generate_series(1, len(d.embedding)), i -> (CAST(d.embedding[i] AS DOUBLE) - CAST(c.embedding[i] AS DOUBLE)) * (CAST(d.embedding[i] AS DOUBLE) - CAST(c.embedding[i] AS DOUBLE))))) AS mind
            FROM d0 d CROSS JOIN c1 c
        ),
        c2 AS (
            SELECT vec_id, embedding, mind FROM d1
            ORDER BY mind DESC, vec_id LIMIT 1
        ),
        d2 AS (
            SELECT d.vec_id, d.embedding,
                   least(d.mind, list_sum(list_transform(generate_series(1, len(d.embedding)), i -> (CAST(d.embedding[i] AS DOUBLE) - CAST(c.embedding[i] AS DOUBLE)) * (CAST(d.embedding[i] AS DOUBLE) - CAST(c.embedding[i] AS DOUBLE))))) AS mind
            FROM d1 d CROSS JOIN c2 c
        ),
        c3 AS (
            SELECT vec_id, embedding, mind FROM d2
            ORDER BY mind DESC, vec_id LIMIT 1
        ),
        d3 AS (
            SELECT d.vec_id, d.embedding,
                   least(d.mind, list_sum(list_transform(generate_series(1, len(d.embedding)), i -> (CAST(d.embedding[i] AS DOUBLE) - CAST(c.embedding[i] AS DOUBLE)) * (CAST(d.embedding[i] AS DOUBLE) - CAST(c.embedding[i] AS DOUBLE))))) AS mind
            FROM d2 d CROSS JOIN c3 c
        ),
        c4 AS (
            SELECT vec_id, embedding, mind FROM d3
            ORDER BY mind DESC, vec_id LIMIT 1
        ),
        d4 AS (
            SELECT d.vec_id, d.embedding,
                   least(d.mind, list_sum(list_transform(generate_series(1, len(d.embedding)), i -> (CAST(d.embedding[i] AS DOUBLE) - CAST(c.embedding[i] AS DOUBLE)) * (CAST(d.embedding[i] AS DOUBLE) - CAST(c.embedding[i] AS DOUBLE))))) AS mind
            FROM d3 d CROSS JOIN c4 c
        ),
        c5 AS (
            SELECT vec_id, embedding, mind FROM d4
            ORDER BY mind DESC, vec_id LIMIT 1
        )
        SELECT CAST(0 AS INT) AS step, vec_id, CAST(NULL AS DOUBLE) AS dist_when_chosen FROM c0
        UNION ALL SELECT CAST(1 AS INT), vec_id, mind FROM c1
        UNION ALL SELECT CAST(2 AS INT), vec_id, mind FROM c2
        UNION ALL SELECT CAST(3 AS INT), vec_id, mind FROM c3
        UNION ALL SELECT CAST(4 AS INT), vec_id, mind FROM c4
        UNION ALL SELECT CAST(5 AS INT), vec_id, mind FROM c5
    """,
    "q136_multiprobe_recall": f"""
        WITH {_HSIG_CTE},
        cb AS (
            SELECT s.vec_id AS neighbor_id, t.b AS band_idx,
                   (s.hsig >> (t.b * {_ROWS_PER_BAND}))
                       & {(1 << _ROWS_PER_BAND) - 1} AS band_val
            FROM sig s,
                 (SELECT unnest(generate_series(0, {_N_PLANES // _ROWS_PER_BAND - 1})) AS b) t
        ), qb AS (
            SELECT s.vec_id AS query_id, t.b AS band_idx,
                   xor((s.hsig >> (t.b * {_ROWS_PER_BAND}))
                       & {(1 << _ROWS_PER_BAND) - 1}, fl.f) AS band_val
            FROM sig s,
                 (SELECT unnest(generate_series(0, {_N_PLANES // _ROWS_PER_BAND - 1})) AS b) t,
                 (SELECT unnest([0, 1, 2, 4, 8, 16, 32, 64, 128]) AS f) fl
            WHERE s.vec_id < {_N_QUERIES}
        ), cand AS (
            SELECT DISTINCT qb.query_id, cb.neighbor_id
            FROM cb JOIN qb
              ON cb.band_idx = qb.band_idx AND cb.band_val = qb.band_val
            WHERE cb.neighbor_id <> qb.query_id
        ), scored AS (
            SELECT c.query_id, c.neighbor_id,
                   list_sum(list_transform(generate_series(1, len(eq.embedding)),
                       i -> CAST(eq.embedding[i] AS DOUBLE)
                          * CAST(en.embedding[i] AS DOUBLE)))
                   / (sqrt(list_sum(list_transform(eq.embedding,
                          x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
                      * sqrt(list_sum(list_transform(en.embedding,
                          x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))))
                       AS cos_raw
            FROM cand c
            JOIN embeddings eq ON eq.vec_id = c.query_id
            JOIN embeddings en ON en.vec_id = c.neighbor_id
        ), mp AS (
            SELECT query_id, neighbor_id FROM (
                SELECT query_id, neighbor_id,
                       row_number() OVER (PARTITION BY query_id
                           ORDER BY cos_raw DESC, neighbor_id) AS rank
                FROM scored
            ) WHERE rank <= {_K}
        ), bf AS (
            SELECT query_id, neighbor_id FROM ({_Q39_SQL})
        )
        SELECT bf.query_id,
               ROUND(SUM(CASE WHEN mp.neighbor_id IS NOT NULL
                              THEN 1 ELSE 0 END) / {_K}.0, 6) AS recall_at_k
        FROM bf LEFT JOIN mp
          ON bf.query_id = mp.query_id AND bf.neighbor_id = mp.neighbor_id
        GROUP BY bf.query_id
    """,
    "q39_cosine_topk": _Q39_SQL,
    # q39's exact-scoring shape + the qrels exclusion (positives =
    # query_id+100, query_id+200) applied BEFORE ranking
    "q106_hard_negatives": f"""
        WITH q AS (
            SELECT vec_id AS query_id, embedding AS q_vec
            FROM embeddings WHERE vec_id < {_N_QUERIES}
        ), scored AS (
            SELECT q.query_id, e.vec_id AS neighbor_id,
                   {_DOT} / ({_NORM_Q} * {_NORM_E}) AS cos_raw
            FROM q, embeddings e
            WHERE e.vec_id <> q.query_id
              AND e.vec_id <> q.query_id + 100
              AND e.vec_id <> q.query_id + 200
        ), ranked AS (
            SELECT query_id, neighbor_id, cos_raw,
                   row_number() OVER (PARTITION BY query_id
                                      ORDER BY cos_raw DESC, neighbor_id) AS rank
            FROM scored
        )
        SELECT query_id, neighbor_id, ROUND(cos_raw, 6) AS cosine,
               CAST(rank AS INT) AS rank
        FROM ranked WHERE rank <= {_K}
    """,
    "q40_embedding_norms": """
        SELECT vec_id, label,
               ROUND(sqrt(list_sum(list_transform(embedding,
                     x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))), 6) AS l2_norm
        FROM embeddings
    """,
    "q41_ivf_cluster_sizes": f"""
        WITH c AS (
            SELECT vec_id AS centroid_id, embedding AS centroid_vec
            FROM embeddings WHERE vec_id < {_N_CENTROIDS}
        ), d AS (
            SELECT e.vec_id, c.centroid_id AS cell, {_SQDIST} AS dist
            FROM embeddings e, c
        ), assigned AS (
            SELECT vec_id, cell,
                   row_number() OVER (PARTITION BY vec_id
                                      ORDER BY dist, cell) AS rn
            FROM d
        )
        SELECT cell, COUNT(*) AS cell_size
        FROM assigned WHERE rn = 1
        GROUP BY cell
    """,
    "q42_ivf_topk": _Q42_SQL,
    "q46_embedding_neardup": f"""
        WITH c AS (
            SELECT centroid_id, centroid_vec FROM {_ADAPTIVE_SEED_SQL}
        ), assigned AS (
            SELECT vec_id, embedding, cell FROM (
                SELECT e.vec_id, e.embedding, c.centroid_id AS cell,
                       row_number() OVER (PARTITION BY e.vec_id
                                          ORDER BY {_SQDIST}, c.centroid_id) AS rn
                FROM embeddings e, c
            ) WHERE rn = 1
        ), pairs AS (
            SELECT a.vec_id AS id1, b.vec_id AS id2,
                   ROUND(
                       list_sum(list_transform(generate_series(1, len(a.embedding)),
                           i -> CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)))
                       / (sqrt(list_sum(list_transform(a.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
                          * sqrt(list_sum(list_transform(b.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))),
                   6) AS cosine
            FROM assigned a JOIN assigned b
              ON a.cell = b.cell AND a.vec_id < b.vec_id
        )
        SELECT id1, id2, cosine FROM pairs WHERE cosine >= {_NEARDUP_THRESHOLD}
    """,
    "q47_kmeans_refined_centroids": f"""
        WITH c AS (
            SELECT vec_id AS centroid_id, embedding AS centroid_vec
            FROM embeddings WHERE vec_id < {_N_CENTROIDS}
        ), assigned AS (
            SELECT vec_id, embedding, cell FROM (
                SELECT e.vec_id, e.embedding, c.centroid_id AS cell,
                       row_number() OVER (PARTITION BY e.vec_id
                                          ORDER BY {_SQDIST}, c.centroid_id) AS rn
                FROM embeddings e, c
            ) WHERE rn = 1
        ), expl AS (
            SELECT cell, unnest(generate_series(1, len(embedding))) AS i, embedding
            FROM assigned
        ), means AS (
            SELECT cell AS centroid_id, i,
                   ROUND(AVG(CAST(embedding[i] AS DOUBLE)), 6) AS m
            FROM expl GROUP BY cell, i
        )
        SELECT centroid_id,
               ROUND(sqrt(SUM(m * m)), 6) AS centroid_norm,
               ROUND(SUM(m), 6) AS centroid_sum
        FROM means GROUP BY centroid_id
    """,
    "q60_hyperplane_signature": f"""
        WITH {_HSIG_CTE}
        SELECT vec_id, hsig FROM sig
    """,
    "q61_hyperplane_pairs": f"""
        WITH {_HSIG_CTE}, bands AS (
            SELECT vec_id, b.b AS band_idx,
                   (hsig >> (b.b * {_ROWS_PER_BAND}))
                       & {(1 << _ROWS_PER_BAND) - 1} AS band_val
            FROM sig, (VALUES (0), (1)) AS b(b)
        )
        SELECT DISTINCT a.vec_id AS id1, b.vec_id AS id2
        FROM bands a JOIN bands b
          ON a.band_idx = b.band_idx
         AND a.band_val = b.band_val
         AND a.vec_id < b.vec_id
    """,
    # q96 = q42 through the at-rest partitioned index; the layout
    # changes the scan, not the result, so the oracle is q42's.
    "q96_ivf_pruned_probe": _Q42_SQL,
    "q100_semantic_dedup": f"""
        WITH c AS (
            SELECT centroid_id, centroid_vec FROM {_ADAPTIVE_SEED_SQL}
        ), assigned AS (
            SELECT vec_id, embedding, cell FROM (
                SELECT e.vec_id, e.embedding, c.centroid_id AS cell,
                       row_number() OVER (PARTITION BY e.vec_id
                                          ORDER BY {_SQDIST}, c.centroid_id) AS rn
                FROM embeddings e, c
            ) WHERE rn = 1
        ), dropped AS (
            SELECT DISTINCT b.vec_id
            FROM assigned a JOIN assigned b
              ON a.cell = b.cell AND a.vec_id < b.vec_id
            WHERE ROUND(
                list_sum(list_transform(generate_series(1, len(a.embedding)),
                    i -> CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)))
                / (sqrt(list_sum(list_transform(a.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
                   * sqrt(list_sum(list_transform(b.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))),
            6) >= {_NEARDUP_THRESHOLD}
        )
        SELECT a.vec_id, a.cell, (d.vec_id IS NULL) AS kept
        FROM assigned a LEFT JOIN dropped d ON a.vec_id = d.vec_id
    """,
    "q86_ivf_recall": f"""
        WITH bf AS (SELECT * FROM ({_Q39_SQL})),
             iv AS (SELECT * FROM ({_Q42_SQL}))
        SELECT bf.query_id,
               ROUND(CAST(COUNT(iv.neighbor_id) AS DOUBLE) / {_K}, 6)
                   AS recall_at_k
        FROM bf LEFT JOIN iv
          ON bf.query_id = iv.query_id
         AND bf.neighbor_id = iv.neighbor_id
        GROUP BY bf.query_id
    """,
    # IVF cell CTEs (q42's shapes) + PQ chain + per-(query, vec)
    # ordered ADC sum over the probed cells only
    "q119_ivfpq_topk": f"""
        WITH c AS (
            SELECT vec_id AS centroid_id, embedding AS centroid_vec
            FROM embeddings WHERE vec_id < {_N_CENTROIDS}
        ), assigned AS (
            SELECT vec_id, cell FROM (
                SELECT e.vec_id, c.centroid_id AS cell,
                       row_number() OVER (PARTITION BY e.vec_id
                                          ORDER BY {_SQDIST}, c.centroid_id) AS rn
                FROM embeddings e, c
            ) WHERE rn = 1
        ), q AS (
            SELECT vec_id AS query_id, embedding AS q_vec
            FROM embeddings WHERE vec_id < {_N_QUERIES}
        ), q_cells AS (
            SELECT query_id, q_vec, cell FROM (
                SELECT q.query_id, q.q_vec, c.centroid_id AS cell,
                       row_number() OVER (PARTITION BY q.query_id ORDER BY
                           list_sum(list_transform(generate_series(1, len(q.q_vec)),
                               i -> (CAST(q.q_vec[i] AS DOUBLE) - CAST(c.centroid_vec[i] AS DOUBLE))
                                  * (CAST(q.q_vec[i] AS DOUBLE) - CAST(c.centroid_vec[i] AS DOUBLE)))),
                           c.centroid_id) AS rn
                FROM q, c
            ) WHERE rn <= {_NPROBE}
        ), {_PQ_CTE.strip()}
        , codes AS (
            SELECT vec_id, subspace, code FROM best WHERE rn = 1
        ), adcd AS (
            SELECT qc.query_id, a.vec_id, co.subspace,
                   list_sum(list_transform(generate_series(1, {_PQ_DSUB}),
                       i -> (CAST(qc.q_vec[co.subspace*{_PQ_DSUB} + i] AS DOUBLE)
                             - cb.cvec[i])
                          * (CAST(qc.q_vec[co.subspace*{_PQ_DSUB} + i] AS DOUBLE)
                             - cb.cvec[i]))) AS dist
            FROM assigned a
            JOIN q_cells qc ON a.cell = qc.cell
            JOIN codes co ON co.vec_id = a.vec_id
            JOIN cb ON cb.subspace = co.subspace AND cb.code = co.code
        ), adc AS (
            SELECT query_id, vec_id, {_PQ_D_COLS}
            FROM adcd GROUP BY query_id, vec_id
        ), ranked AS (
            SELECT query_id, vec_id, {_PQ_RECON} AS adc_dist,
                   row_number() OVER (PARTITION BY query_id
                                      ORDER BY {_PQ_RECON}, vec_id) AS rank
            FROM adc
        )
        SELECT query_id, vec_id, ROUND(adc_dist, 6) AS adc_dist,
               CAST(rank AS INT) AS rank
        FROM ranked WHERE rank <= {_K}
    """,
    # q155: candidate stage nests _Q42_SQL verbatim (lockstep with
    # q42); the rerank scorer is md5('0x' 8-nibble)/2^32 over
    # q_text || US || d_text — the exact bytes portable_cross_scorer
    # hashes (chr(31) = the \\x1f unit separator)
    "q155_rerank_topk": f"""
        WITH cand AS (
            SELECT query_id, neighbor_id AS item_id FROM ({_Q42_SQL})
        ), scored AS (
            SELECT c.query_id, c.item_id,
                   ROUND(CAST('0x' || substr(md5(dq.text || chr(31)
                                             || dd.text), 1, 8)
                              AS BIGINT) / 4294967296.0,
                         6) AS score
            FROM cand c
            JOIN documents dq ON dq.doc_id = c.query_id
            JOIN documents dd ON dd.doc_id = c.item_id
        )
        SELECT query_id, item_id, score, CAST(rank AS INT) AS rank
        FROM (
            SELECT query_id, item_id, score,
                   row_number() OVER (PARTITION BY query_id
                                      ORDER BY score DESC, item_id)
                       AS rank
            FROM scored
        ) WHERE rank <= 5
    """,
    # q154: dense leg nests _Q39_SQL verbatim (lockstep with q39 by
    # construction); lexical leg = distinct-token overlap with the
    # identical desc/id tiebreak; fusion sums dense-then-lex 1/(60+r)
    # and ranks on the ROUNDED score exactly like rrf_fuse
    "q218_rank_biased_overlap": f"""
        WITH dense AS (
            SELECT query_id, neighbor_id AS item_id, rank
            FROM ({_Q39_SQL})
        ), lexq AS (
            SELECT doc_id AS query_id,
                   list_distinct({O.ws_tokens('lower(text)')}) AS qt
            FROM documents WHERE doc_id < {_N_QUERIES}
        ), lexc AS (
            SELECT doc_id AS item_id,
                   list_distinct({O.ws_tokens('lower(text)')}) AS ct
            FROM documents
        ), lexr AS (
            SELECT query_id, item_id,
                   row_number() OVER (PARTITION BY query_id
                                      ORDER BY ov DESC, item_id) AS rank
            FROM (
                SELECT q.query_id, c.item_id,
                       len(list_intersect(q.qt, c.ct)) AS ov
                FROM lexq q, lexc c WHERE c.item_id <> q.query_id
            )
        ), da AS (
            SELECT query_id, list(item_id ORDER BY rank) AS a
            FROM dense GROUP BY query_id
        ), db AS (
            SELECT query_id, list(item_id ORDER BY rank) AS b
            FROM lexr WHERE rank <= {_K} GROUP BY query_id
        )
        SELECT da.query_id,
               round(list_sum(list_transform(
                   generate_series(1, {_K}), d ->
                       {list(_RBO_W)!r}[d]
                       * len(list_intersect(a[1:d], b[1:d])) * 1.0
                       / d)), 6) AS rbo,
               round(len(list_intersect(a, b)) * 1.0 / {_K}, 6)
                   AS overlap_at_k
        FROM da JOIN db ON da.query_id = db.query_id
    """,
    "q217_ndcg_eval": f"""
        WITH qv AS (
            SELECT vec_id AS query_id, embedding FROM embeddings
            WHERE vec_id < {_N_QUERIES}
        ), rel AS MATERIALIZED (
            SELECT query_id, item_id,
                   CASE WHEN c6 >= {_NDCG_GRADES[0][0]!r}
                            THEN {_NDCG_GRADES[0][1]!r}
                        WHEN c6 >= {_NDCG_GRADES[1][0]!r}
                            THEN {_NDCG_GRADES[1][1]!r}
                        WHEN c6 >= {_NDCG_GRADES[2][0]!r}
                            THEN {_NDCG_GRADES[2][1]!r}
                        ELSE 0.0 END AS gain
            FROM (
                SELECT b.query_id, a.vec_id AS item_id,
                       round({_COS_AB}, 6) AS c6
                FROM embeddings a JOIN qv b ON a.vec_id <> b.query_id
            )
        ), lexq AS (
            SELECT doc_id AS query_id,
                   list_distinct({O.ws_tokens('lower(text)')}) AS qt
            FROM documents WHERE doc_id < {_N_QUERIES}
        ), lexc AS (
            SELECT doc_id AS item_id,
                   list_distinct({O.ws_tokens('lower(text)')}) AS ct
            FROM documents
        ), lexr AS (
            SELECT query_id, item_id,
                   row_number() OVER (PARTITION BY query_id
                                      ORDER BY ov DESC, item_id) AS rank
            FROM (
                SELECT q.query_id, c.item_id,
                       len(list_intersect(q.qt, c.ct)) AS ov
                FROM lexq q, lexc c WHERE c.item_id <> q.query_id
            )
        ), w AS (
            SELECT {list(_NDCG_W)!r} AS ws
        ), dcg AS (
            SELECT l.query_id AS query_id,
                   list_sum(list(COALESCE(r.gain, 0.0)
                                 * (SELECT ws FROM w)[l.rank]
                            ORDER BY l.rank)) AS dcg
            FROM lexr l LEFT JOIN rel r
              ON r.query_id = l.query_id AND r.item_id = l.item_id
            WHERE l.rank <= {_K}
            GROUP BY l.query_id
        ), idcg AS (
            SELECT query_id,
                   list_sum(list(gain * (SELECT ws FROM w)[p]
                            ORDER BY p)) AS idcg
            FROM (
                SELECT query_id, gain,
                       row_number() OVER (PARTITION BY query_id
                                          ORDER BY gain DESC, item_id)
                           AS p
                FROM rel WHERE gain > 0
            ) WHERE p <= {_K}
            GROUP BY query_id
        )
        SELECT d.query_id, round(d.dcg, 6) AS dcg,
               round(COALESCE(i.idcg, 0.0), 6) AS idcg,
               CASE WHEN COALESCE(i.idcg, 0.0) > 0
                    THEN round(d.dcg / i.idcg, 6) ELSE 0.0 END AS ndcg
        FROM dcg d LEFT JOIN idcg i ON d.query_id = i.query_id
    """,
    "q154_hybrid_rrf": f"""
        WITH dense AS (
            SELECT query_id, neighbor_id AS item_id, rank
            FROM ({_Q39_SQL})
        ), lexq AS (
            SELECT doc_id AS query_id,
                   list_distinct({O.ws_tokens('lower(text)')}) AS qt
            FROM documents WHERE doc_id < {_N_QUERIES}
        ), lexc AS (
            SELECT doc_id AS item_id,
                   list_distinct({O.ws_tokens('lower(text)')}) AS ct
            FROM documents
        ), lexs AS (
            SELECT q.query_id, c.item_id,
                   len(list_intersect(q.qt, c.ct)) AS ov
            FROM lexq q, lexc c
            WHERE c.item_id <> q.query_id
        ), lexr AS (
            SELECT query_id, item_id,
                   row_number() OVER (PARTITION BY query_id
                                      ORDER BY ov DESC, item_id) AS rank
            FROM lexs
        ), lex AS (
            SELECT query_id, item_id, rank FROM lexr WHERE rank <= {_K}
        ), fused AS (
            SELECT COALESCE(d.query_id, l.query_id) AS query_id,
                   COALESCE(d.item_id, l.item_id) AS item_id,
                   ROUND(COALESCE(1.0 / (60.0 + d.rank), 0.0)
                         + COALESCE(1.0 / (60.0 + l.rank), 0.0),
                         6) AS rrf_score
            FROM dense d FULL OUTER JOIN lex l
              ON d.query_id = l.query_id AND d.item_id = l.item_id
        )
        SELECT query_id, item_id, rrf_score, CAST(rank AS INT) AS rank
        FROM (
            SELECT query_id, item_id, rrf_score,
                   row_number() OVER (PARTITION BY query_id
                                      ORDER BY rrf_score DESC, item_id)
                       AS rank
            FROM fused
        ) WHERE rank <= {_K}
    """,
    # q151: exact per-dim bounds from the same float32 values (min/
    # max have no accumulation, so both engines compute identical
    # doubles); encode/decode arithmetic mirrors sq8_encode's exact
    # op order, d * d not pow
    "q151_sq8_encode": f"""
        WITH dims AS (
            SELECT i FROM generate_series(1, {_EMB_DIM_PQ}) AS g(i)
        ), b AS (
            SELECT d.i AS pos,
                   MIN(CAST(e.embedding[d.i] AS DOUBLE)) AS mn,
                   MAX(CAST(e.embedding[d.i] AS DOUBLE)) AS mx
            FROM embeddings e CROSS JOIN dims d
            GROUP BY d.i
        ), bl AS (
            SELECT list(mn ORDER BY pos) AS mns,
                   list(mx ORDER BY pos) AS mxs
            FROM b
        ), enc AS (
            SELECT e.vec_id,
                   list_transform(generate_series(1, {_EMB_DIM_PQ}), i ->
                       CASE WHEN bl.mxs[i] > bl.mns[i]
                            THEN CAST(GREATEST(0, LEAST(FLOOR(
                                 (CAST(e.embedding[i] AS DOUBLE) - bl.mns[i])
                                 * 255.0 / (bl.mxs[i] - bl.mns[i])), 255))
                                 AS INT)
                            ELSE 0 END) AS codes,
                   list_sum(list_transform(generate_series(1, {_EMB_DIM_PQ}), i ->
                       CASE WHEN bl.mxs[i] > bl.mns[i]
                            THEN (CAST(e.embedding[i] AS DOUBLE)
                                  - (bl.mns[i]
                                     + (CAST(CAST(GREATEST(0, LEAST(FLOOR(
                                          (CAST(e.embedding[i] AS DOUBLE) - bl.mns[i])
                                          * 255.0 / (bl.mxs[i] - bl.mns[i])), 255))
                                          AS INT) AS DOUBLE) + 0.5)
                                       * (bl.mxs[i] - bl.mns[i]) / 255.0))
                                 * (CAST(e.embedding[i] AS DOUBLE)
                                  - (bl.mns[i]
                                     + (CAST(CAST(GREATEST(0, LEAST(FLOOR(
                                          (CAST(e.embedding[i] AS DOUBLE) - bl.mns[i])
                                          * 255.0 / (bl.mxs[i] - bl.mns[i])), 255))
                                          AS INT) AS DOUBLE) + 0.5)
                                       * (bl.mxs[i] - bl.mns[i]) / 255.0))
                            ELSE 0.0 END)) AS recon_err
            FROM embeddings e, bl
        )
        SELECT vec_id,
               codes[1] AS code_0, codes[2] AS code_1,
               codes[3] AS code_2, codes[4] AS code_3,
               ROUND(recon_err, 6) AS recon_err
        FROM enc
    """,
    "q111_pq_encode": f"""
        WITH {_PQ_CTE}, hm AS (
            SELECT vec_id, {_PQ_CODE_COLS}, {_PQ_D_COLS}
            FROM best WHERE rn = 1 GROUP BY vec_id
        )
        SELECT vec_id, code_0, code_1, code_2, code_3,
               ROUND({_PQ_RECON}, 6) AS recon_err
        FROM hm
    """,
    "q112_pq_adc_recall": f"""
        WITH {_PQ_CTE}, codes AS (
            SELECT vec_id, subspace, code FROM best WHERE rn = 1
        ), q AS (
            SELECT vec_id AS query_id, embedding AS q_vec
            FROM embeddings WHERE vec_id < {_N_QUERIES}
        ), adcd AS (
            SELECT q.query_id, c.vec_id, c.subspace,
                   list_sum(list_transform(generate_series(1, {_PQ_DSUB}),
                       i -> (CAST(q.q_vec[c.subspace*{_PQ_DSUB} + i] AS DOUBLE)
                             - cb.cvec[i])
                          * (CAST(q.q_vec[c.subspace*{_PQ_DSUB} + i] AS DOUBLE)
                             - cb.cvec[i]))) AS dist
            FROM codes c
            JOIN cb ON cb.subspace = c.subspace AND cb.code = c.code
            CROSS JOIN q
        ), adc AS (
            SELECT query_id, vec_id, {_PQ_D_COLS}
            FROM adcd GROUP BY query_id, vec_id
        ), adck AS (
            SELECT query_id, vec_id FROM (
                SELECT query_id, vec_id,
                       row_number() OVER (PARTITION BY query_id
                           ORDER BY {_PQ_RECON}, vec_id) AS rk
                FROM adc) WHERE rk <= {_K}
        ), ex AS (
            SELECT q.query_id, e.vec_id,
                   list_sum(list_transform(generate_series(1, {_EMB_DIM_PQ}),
                       i -> (CAST(q.q_vec[i] AS DOUBLE)
                             - CAST(e.embedding[i] AS DOUBLE))
                          * (CAST(q.q_vec[i] AS DOUBLE)
                             - CAST(e.embedding[i] AS DOUBLE)))) AS dist
            FROM embeddings e CROSS JOIN q
        ), exk AS (
            SELECT query_id, vec_id FROM (
                SELECT query_id, vec_id,
                       row_number() OVER (PARTITION BY query_id
                           ORDER BY dist, vec_id) AS rk
                FROM ex) WHERE rk <= {_K}
        )
        SELECT exk.query_id,
               ROUND(SUM(CASE WHEN adck.vec_id IS NOT NULL
                              THEN 1 ELSE 0 END) / {_K}.0, 6) AS recall_at_k
        FROM exk LEFT JOIN adck
          ON exk.query_id = adck.query_id AND exk.vec_id = adck.vec_id
        GROUP BY exk.query_id
    """,
}
