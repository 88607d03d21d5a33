"""Similarity search over embedding columns (array<float>).

- ``cosine_topk`` — brute-force baseline: broadcast the (small) query
  set against the corpus, JVM-side dot products via zip_with/aggregate,
  per-query top-k with a window. Exact; O(|corpus| * |queries|).
- ``ivf_assign`` / ``ivf_topk`` — the scale path: partition the corpus
  into C centroid cells (inverted file); a query probes only the
  nearest cells. At 100 TB the corpus is written partitioned by
  ``cell`` so a probe is a partition-pruned scan, not a full pass.

All arithmetic is element-wise double (floats upcast before multiply)
— the same closed form the DuckDB oracle runs.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ulh_etl_spark.cache import track
from ulh_etl_spark.session import local_frame


def _dot(a: Column, b: Column) -> Column:
    prods = F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double"))
    return F.aggregate(prods, F.lit(0.0), lambda acc, x: acc + x)


def l2_norm(vec: Column) -> Column:
    sq = F.aggregate(
        vec, F.lit(0.0), lambda acc, x: acc + x.cast("double") * x.cast("double")
    )
    return F.sqrt(sq)


def cosine(a: Column, b: Column) -> Column:
    return _dot(a, b) / (l2_norm(a) * l2_norm(b))


def rp_signs(out_dim: int, in_dim: int) -> list[list[float]]:
    """Deterministic ±1 Rademacher projection matrix (out_dim x
    in_dim) from md5 — reproducible on any engine/driver with no RNG
    state (hash_split's determinism rationale). Sign(k, j) = +1 iff
    the first hex digit of md5('jlproj_k_j') is even."""
    import hashlib

    out = []
    for k in range(out_dim):
        row = []
        for j in range(in_dim):
            h = hashlib.md5(f"jlproj_{k}_{j}".encode()).hexdigest()
            row.append(1.0 if int(h[0], 16) % 2 == 0 else -1.0)
        out.append(row)
    return out


def random_projection(df: DataFrame, dim: int, out_dim: int) -> DataFrame:
    """Johnson-Lindenstrauss dimensionality reduction: project each
    embedding onto ``out_dim`` deterministic ±1 Rademacher directions
    (Achlioptas 2003 — database-friendly random projections: ±1
    entries preserve pairwise distances in expectation like Gaussian
    ones, with integer-weight arithmetic). The cheap pre-reduction
    that feeds brute-force rerank, IVF build, or LSH when the raw
    dimension makes per-pair arithmetic the bottleneck: distance work
    scales by out_dim/dim with JL's (1 ± eps) distortion guarantee.

    Scale: the sign matrix folds into the plan as literals
    (hyperplane_signature's pattern) and the projection is a pure
    narrow map — zero shuffles, zero Python. Each output coordinate
    uses the SAME left-to-right fold as _dot, so the DuckDB oracle
    (list_sum over the identical products) is bit-stable; emitted
    values round to 6.

    Output: (id, r00..r{out_dim-1}) — one double column per reduced
    coordinate (flat columns, not an array: each is independently
    hash-compared)."""
    signs = rp_signs(out_dim, dim)
    # r16: the sign matrix enters as ONE nested-array SQL literal and
    # all out_dim coordinates fold in ONE transform over the row axis
    # (the hyperplane_signature restructure): the per-row formulation
    # paid ~1 s of Catalyst analysis + py4j literal conversion per
    # invocation for out_dim x dim scalar nodes and 2x out_dim lambda
    # HOFs. Each coordinate replays _dot's left-to-right fold on the
    # same products, so values are bit-identical. The flat r{k}
    # columns read element_at over the materialized dots column —
    # CollapseProject keeps the transform evaluated once (it never
    # inlines a non-cheap producer referenced out_dim times).
    signs2d = F.expr(
        "array({})".format(
            ",".join(
                "array({})".format(
                    ",".join(f"CAST('{float(s)!r}' AS DOUBLE)" for s in row)
                )
                for row in signs
            )
        )
    )
    vec = F.col("embedding")
    dots = F.transform(
        signs2d,
        lambda w: F.aggregate(
            F.zip_with(
                vec, w, lambda x, y: x.cast("double") * y.cast("double")
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ),
    )
    staged = df.select(F.col("vec_id"), dots.alias("_dots"))
    return staged.select(
        F.col("vec_id"),
        *[
            F.round(F.element_at(F.col("_dots"), k + 1), 6).alias(
                f"r{k:02d}"
            )
            for k in range(out_dim)
        ],
    )


def _cosine_topk_blas(corpus: DataFrame, q_rows, k: int) -> DataFrame:
    """FOLD-EXACT brute-force scoring kernel for :func:`cosine_topk`
    (r16): the collected query vectors ride the task closure; one
    ``mapInPandas`` pass over the corpus computes every (query,
    candidate) cosine in numpy and keeps each query's top-k WITHIN
    the Arrow batch. Per-batch top-k is a lossless reduction for the
    global top-k (every corpus row is seen in exactly one batch, and
    a row outside its batch's per-query top-k is beaten by k
    same-batch rows under the global (cos desc, id asc) order), so
    the downstream global rank window sees ~(n_batches · |Q| · k)
    rows instead of |corpus| · |Q| candidate pairs — and the corpus
    itself never shuffles at all (same as the broadcast-join SQL
    path, minus its interpreted per-pair HOF fold and the skewed
    |Q|-partition window input).

    Exactness — the :func:`knn_score_topk_blas` contract verbatim:
    per-dimension accumulation (``acc += Q[:, d:d+1] * V[None, :,
    d]``) is :func:`_dot`'s left-to-right IEEE fold (element products
    commute exactly), norms are :func:`_fold_norm`, self-pairs are
    excluded, and exact-cosine ties break by neighbor id via a
    stable argsort over id-pre-sorted columns. Every emitted _cos is
    bit-identical to the SQL expression, so the final window — the
    same window as the SQL path — produces identical ranks.

    NaN cosines (zero-norm vectors — absent from any real corpus;
    the ANSI SQL path would raise DIVIDE_BY_ZERO on them) cross the
    Arrow boundary as NULL, which the rank window orders LAST under
    ``desc()``; the in-batch sort key therefore maps NaN below every
    real cosine (but above the excluded self-pairs) so the per-batch
    top-k keeps exactly the rows the global window would rank."""
    import numpy as np
    from pyspark.sql import types as T

    qid_arr = np.array([r[0] for r in q_rows])
    Q = np.array([list(r[1]) for r in q_rows], dtype=np.float64)
    nq = _fold_norm(Q)
    b = Q.shape[0]
    idt = corpus.schema["vec_id"].dataType
    out_schema = T.StructType(
        [
            T.StructField("query_id", idt),
            T.StructField("neighbor_id", idt),
            T.StructField("_cos", T.DoubleType()),
        ]
    )

    def score(batches):
        import numpy as np
        import pandas as pd

        for pdf in batches:
            m = len(pdf)
            if m == 0:
                continue
            nids = pdf["vec_id"].to_numpy()
            # pre-sort candidates by id so a STABLE score argsort
            # breaks exact-cosine ties by neighbor_id ascending
            order = np.argsort(nids, kind="stable")
            nids = nids[order]
            V = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)[order]
            nv = _fold_norm(V)
            acc = np.zeros((b, m))
            for d in range(Q.shape[1]):
                acc += Q[:, d : d + 1] * V[None, :, d]
            with np.errstate(invalid="ignore", divide="ignore"):
                cos = acc / (nq[:, None] * nv[None, :])
            # NaN (-> NULL at the Arrow boundary, window-ranked last)
            # sorts below every real cosine; self-pairs lower still.
            skey = np.where(np.isnan(cos), np.finfo(np.float64).min, cos)
            selfm = qid_arr[:, None] == nids[None, :]
            skey = np.where(selfm, -np.inf, skey)
            tk = min(k + 1, m)  # +1: self may occupy one slot
            ordc = np.argsort(-skey, axis=1, kind="stable")[:, :tk]
            rows_i = np.repeat(np.arange(b), tk)
            cols = ordc.ravel()
            qv = np.repeat(qid_arr, tk)
            nvid = nids[cols]
            cv = cos[rows_i, cols]
            is_self = qv == nvid
            sm = is_self.reshape(b, tk)
            offset = np.cumsum(sm, axis=1) - sm
            new_rank = np.tile(np.arange(tk), b) - offset.ravel()
            keep = (~is_self) & (new_rank < k)
            yield pd.DataFrame(
                {"query_id": qv[keep], "neighbor_id": nvid[keep],
                 "_cos": cv[keep]}
            )

    scored = corpus.select("vec_id", "embedding").mapInPandas(score, out_schema)
    w = Window.partitionBy("query_id").orderBy(
        F.col("_cos").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "query_id",
            "neighbor_id",
            F.round("_cos", 6).alias("cosine"),
            "rank",
        )
    )


def cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    max_collect_queries: int = 4096,
) -> DataFrame:
    """Exact top-k cosine neighbors per query (self-matches excluded).

    The query set is collected (bounded by ``max_collect_queries`` —
    every audit caller passes a fixed <= 64-row sample) and the corpus
    is scored in the fold-exact :func:`_cosine_topk_blas` mapInPandas
    kernel: per-pair cost vectorized, and the rank window reads
    per-batch top-k survivors instead of |corpus| x |queries| rows.
    NOTE this is EAGER at DataFrame-construction time (one bounded
    limit+collect job for the query vectors — the centroid-collect
    policy). A query set that is empty or over the cap cannot ride the
    task closure, so it takes the lazy broadcast-join path instead,
    which scores each pair with the same :func:`_dot` / :func:`l2_norm`
    folds and therefore ranks identically.

    Scale (both paths): the corpus never shuffles — the only shuffle
    is the per-query top-k window, keyed by query_id. For huge query
    sets use ivf_topk instead.
    """
    q_rows = (
        queries.select("vec_id", "embedding")
        .limit(max_collect_queries + 1)
        .collect()
    )
    if 0 < len(q_rows) <= max_collect_queries:
        return _cosine_topk_blas(corpus, q_rows, k)
    # Norms precomputed per row on each side — never per pair: the
    # per-pair l2_norm would triple the interpreted HOF work across
    # |corpus| x |queries| rows. Same arithmetic, same bits.
    q = queries.select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_vec"),
        l2_norm(F.col("embedding")).alias("_qn"),
    )
    c = corpus.select(
        F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("c_vec"),
        l2_norm(F.col("embedding")).alias("_cn"),
    )
    scored = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            (
                _dot(F.col("q_vec"), F.col("c_vec"))
                / (F.col("_qn") * F.col("_cn"))
            ).alias("cos_raw"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_raw").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "query_id",
            "neighbor_id",
            F.round("cos_raw", 6).alias("cosine"),
            "rank",
        )
    )


def hard_negatives(
    corpus: DataFrame,
    queries: DataFrame,
    positives: DataFrame,
    k: int = 10,
) -> DataFrame:
    """Hard-negative mining for retrieval/contrastive training (the
    DPR recipe, Karpukhin et al. 2020 §3.2): per query, the top-k
    most cosine-similar corpus items that are NOT labeled positives —
    the near-miss negatives that actually move a contrastive loss,
    vs uninformative random negatives.

    ``positives``: (query_id, pos_id) relevance pairs to exclude.
    Self-matches are always excluded.

    Scale: same shape as cosine_topk — queries broadcast, the corpus
    never shuffles for the scoring join; the positives exclusion is a
    BROADCAST left-anti join (positives are a few rows per query by
    construction, and must exclude BEFORE ranking or a positive
    occupies a top-k slot), so the only shuffle remains the per-query
    top-k window. For huge query sets, block by IVF cell first
    (ivf_topk) and anti-join the same way."""
    q = queries.select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_vec"),
        l2_norm(F.col("embedding")).alias("_qn"),
    )
    c = corpus.select(
        F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("c_vec"),
        l2_norm(F.col("embedding")).alias("_cn"),
    )
    pos = positives.select(
        F.col("query_id"), F.col("pos_id").alias("neighbor_id")
    )
    scored = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .join(F.broadcast(pos), ["query_id", "neighbor_id"], "left_anti")
        .select(
            "query_id",
            "neighbor_id",
            (
                _dot(F.col("q_vec"), F.col("c_vec"))
                / (F.col("_qn") * F.col("_cn"))
            ).alias("cos_raw"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_raw").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "query_id",
            "neighbor_id",
            F.round("cos_raw", 6).alias("cosine"),
            "rank",
        )
    )


def token_overlap_topk(
    corpus: DataFrame,
    queries: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 10,
) -> DataFrame:
    """Lexical retrieval leg: per query document, the top-k corpus
    documents by DISTINCT shared lowercase whitespace-token count
    (score desc, id asc tiebreak; self-matches excluded) — the
    deterministic set-overlap ranking that pairs with a dense leg in
    hybrid retrieval (see :func:`rrf_fuse`). Overlap counting (not
    BM25) keeps the leg closed-form for the oracle while exercising
    the identical plan shape a BM25 leg would.

    Scale: cosine_topk's exact contract — token sets are computed
    once per side, queries broadcast, the corpus never shuffles for
    the scoring join; the only shuffle is the per-query top-k
    window."""
    from ulh_etl_spark.operators.text import whitespace_tokens

    toks = lambda c: F.array_distinct(whitespace_tokens(F.lower(c)))  # noqa: E731
    q = queries.select(
        F.col(id_col).alias("query_id"), toks(F.col(text_col)).alias("_qt")
    )
    c = corpus.select(
        F.col(id_col).alias("item_id"), toks(F.col(text_col)).alias("_ct")
    )
    scored = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("item_id") != F.col("query_id"))
        .select(
            "query_id",
            "item_id",
            F.size(F.array_intersect(F.col("_qt"), F.col("_ct"))).alias(
                "overlap"
            ),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("overlap").desc(), F.col("item_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "item_id", "overlap", "rank")
    )


def rrf_fuse(
    legs: "list[DataFrame]",
    k_const: int = 60,
    topk: int = 10,
) -> DataFrame:
    """Reciprocal-rank fusion (Cormack et al. 2009): fuse any number
    of per-query rankings into one — score(q, d) = sum over legs of
    1 / (k + rank_leg(q, d)), items missing from a leg contribute 0.
    The standard hybrid-search combiner: rank-based, so a leg's score
    SCALE (cosine vs token counts vs BM25) never needs calibrating.

    Determinism contract: the fused ranking orders by the ROUNDED
    (6 dp) score then item id, so engine and oracle rank identical
    doubles identically. Each leg's rank must itself be deterministic
    (every leg in this repo tie-breaks on id).

    Scale: legs are already per-query top-k relations (tiny — q x k
    rows), so the outer joins and the final window are trivially
    bounded; fusion cost never touches the corpus."""
    fused = None
    for i, leg in enumerate(legs):
        contrib = leg.select(
            F.col("query_id"),
            F.col("item_id"),
            (
                F.lit(1.0)
                / (F.lit(k_const).cast("double") + F.col("rank").cast("double"))
            ).alias(f"_s{i}"),
        )
        fused = (
            contrib
            if fused is None
            else fused.join(contrib, ["query_id", "item_id"], "full_outer")
        )
    n = len(legs)
    score = None
    for i in range(n):
        term = F.coalesce(F.col(f"_s{i}"), F.lit(0.0))
        score = term if score is None else score + term
    scored = fused.select(
        "query_id", "item_id", F.round(score, 6).alias("rrf_score")
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("rrf_score").desc(), F.col("item_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= topk)
    )


def portable_cross_scorer(q_text: str, d_text: str) -> float:
    """Deterministic stand-in for a cross-encoder relevance model:
    md5-uniform in [0, 1) over the (query, doc) TEXT pair (unit
    separator joined, so no concatenation ambiguity). SQL-reproducible
    (md5 of the same UTF-8 bytes), which is what makes the rerank
    stage oracle-checkable; a real cross-encoder (e.g. a miniLM
    ONNX session opened per executor) plugs into rerank_topk's
    scorer slot unchanged — nothing about the plan depends on where
    the score comes from."""
    import hashlib

    h = hashlib.md5((q_text + "\x1f" + d_text).encode()).hexdigest()
    return int(h[:8], 16) / 4294967296.0


def rerank_topk(
    candidates: DataFrame,
    texts: DataFrame,
    scorer,
    k: int = 5,
) -> DataFrame:
    """Second-stage RERANK of first-stage candidates — the standard
    two-stage retrieval shape (ANN recall stage -> cross-encoder
    precision stage): join each (query, candidate) pair with BOTH
    texts, score the pair in an Arrow ``mapInPandas`` stage (the
    model crossing — one Python call per pair over columnar batches,
    never per-row JVM<->Python chatter), keep the top ``k`` per query
    by (rounded score desc, item id).

    Scale: the candidate relation is queries x first-stage-k rows —
    driver-tiny by construction — so BOTH text joins broadcast the
    pair side and the corpus never shuffles; the scorer stage then
    touches only |candidates| rows no matter the corpus size, which
    is the entire economics of two-stage retrieval (the expensive
    model runs on thousands of pairs, not billions). The only
    shuffle is the final per-query top-k window."""
    import pandas as pd

    # BOTH text joins broadcast the PAIR side (queries x k rows) —
    # never the corpus: the corpus text relation stays scan-side and
    # shuffle-free in each join, and only matched pair rows survive
    # into the next stage
    with_d = texts.select(
        F.col("doc_id").alias("item_id"), F.col("text").alias("_dt")
    ).join(F.broadcast(candidates.select("query_id", "item_id")), "item_id")
    pairs = texts.select(
        F.col("doc_id").alias("query_id"), F.col("text").alias("_qt")
    ).join(F.broadcast(with_d), "query_id")

    def _score(batches):
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "query_id": pdf["query_id"].values,
                    "item_id": pdf["item_id"].values,
                    "score": [
                        scorer(q, d)
                        for q, d in zip(pdf["_qt"], pdf["_dt"])
                    ],
                }
            )

    scored = pairs.mapInPandas(
        _score, schema="query_id long, item_id long, score double"
    ).select(
        "query_id", "item_id", F.round("score", 6).alias("score")
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col("item_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def _centroid_rows(
    centroids: DataFrame, centroid_id: str, centroid_vec: str
) -> list:
    """Collect the (driver-small by construction) centroid set, sorted
    by cell id ascending. Memoized on the DataFrame object so a query
    that feeds the same centroid set to both the build (``ivf_assign``)
    and probe (``ivf_assign_queries``) sides — or to the two-level
    structure builder — pays one driver job, not two."""
    cache = centroids.__dict__.setdefault("_ulh_centroid_cache", {})
    key = (centroid_id, centroid_vec)
    if key not in cache:
        rows = centroids.select(
            F.col(centroid_id).alias("cell"), F.col(centroid_vec).alias("cvec")
        ).collect()
        rows.sort(key=lambda r: r["cell"])
        cache[key] = rows
    return cache[key]


def _cell_sql(v) -> str:
    if isinstance(v, bool) or not isinstance(v, (int, float)):
        escaped = str(v).replace("'", "''")
        return f"'{escaped}'"
    if isinstance(v, int):
        return f"CAST({v} AS BIGINT)"
    return f"CAST('{v!r}' AS DOUBLE)"


def _rows_struct_sql(rows) -> str:
    """SQL text for an ``array<struct<cell, cvec>>`` literal over the
    given centroid rows. One F.expr over a generated SQL string, not
    C x dim F.lit calls: per-element Column construction costs a py4j
    round-trip each (~1s of driver time at C=8, dim=64); a single
    parsed expression is milliseconds and constant-folds identically.
    CAST from repr() keeps every double bit-exact (repr
    round-trips)."""
    elems = ", ".join(
        "named_struct('cell', {}, 'cvec', array({}))".format(
            _cell_sql(r["cell"]),
            ", ".join(f"CAST('{float(v)!r}' AS DOUBLE)" for v in r["cvec"]),
        )
        for r in rows
    )
    return f"array({elems})"


def _centroid_literal(
    centroids: DataFrame, centroid_id: str, centroid_vec: str
) -> Column:
    """Fold the collected centroid set into an
    ``array<struct<cell, cvec array<double>>>`` literal, sorted by
    cell id ascending so that min/sort tie-breaks land on the lowest
    cell — the same determinism the crossJoin + row_number formulation
    had, without materializing |corpus| x C rows."""
    return F.expr(
        _rows_struct_sql(_centroid_rows(centroids, centroid_id, centroid_vec))
    )


def _sq_dist(vec: Column, cvec: Column) -> Column:
    """Squared L2 between two array columns/literals — one sequential
    left-to-right double fold, the same arithmetic order as DuckDB's
    ``list_sum`` oracle, so hashes are bit-stable."""
    return F.aggregate(
        F.zip_with(
            vec,
            cvec,
            lambda x, y: (x.cast("double") - y.cast("double"))
            * (x.cast("double") - y.cast("double")),
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def ivf_assign(
    corpus: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
) -> DataFrame:
    """Assign every vector to its nearest centroid (squared-L2,
    deterministic lowest-cell tie-break) — the IVF build step.

    The cell is element 1 of :func:`flat_cells_blas` at nprobe=1: GEMM
    distances with every decisive boundary re-scored by the exact
    left-to-right fold, so each cell equals the (dist, cell) argmin of
    the sequential fold the DuckDB oracles replay. The r15 probes
    measured why the interpreted fold could not stay: the N·C distance
    scan was 98 of q197's 107 s at sf10 (exp +1.72, worst in the probe
    table), and the BLAS kernel computes the same cells ~100x cheaper
    per distance.

    Scale: the centroid set is driver-small (C cells) so it is
    collected once and becomes the dgemm operand; assignment is then a
    pure narrow map — ZERO shuffles and no |corpus| x C row
    amplification (the original crossJoin + row_number formulation
    pushed every (vector, centroid) pair through an Exchange — 256x
    shuffle amplification at C=256). The output is what you'd
    ``write.partitionBy("cell")`` so probes prune partitions.

    Input: corpus (id_col, embedding), centroids (centroid_id,
    centroid_vec). Output: (id_col, embedding, cell).
    """
    return flat_cells_blas(corpus, centroids, id_col).select(
        F.col(id_col),
        F.col("embedding"),
        F.element_at(F.col("_cells"), 1).alias("cell"),
    )


def _py_md5h32(s: str) -> int:
    """Driver-side twin of text.md5_hash32 (first 8 md5 hex chars as
    an int) — the portable hash all three engines share."""
    import hashlib

    return int(hashlib.md5(s.encode("utf-8")).hexdigest()[:8], 16)


def _py_sqdist(a, b) -> float:
    """Driver-side twin of _sq_dist: sequential left-to-right
    double fold in index order, bit-identical to the Spark
    F.aggregate and the DuckDB list_sum over generate_series."""
    acc = 0.0
    for x, y in zip(a, b):
        d = float(x) - float(y)
        acc += d * d
    return acc


def two_level_structure(rows) -> tuple:
    """Driver-side two-level quantizer structure over the collected
    fine-centroid rows: pick ceil(sqrt(C)) COARSE centroids (the fine
    centroids with the smallest portable md5 of ``'co_' + cell``,
    ties by cell — the same no-RNG selection style as the
    density-proportional seed), then assign every fine centroid to
    its nearest coarse centroid (squared L2, lowest-coarse-id
    tie-break). C * sqrt(C) double ops on the driver — driver-small
    by the same argument that lets the centroid set collect at all.

    Because every coarse centroid IS one of the fine centroids, each
    coarse group contains at least its own coarse member (distance
    0), so the per-vector fine argmin is never over an empty array.

    Returns (coarse_rows, groups) with groups[coarse_cell] = list of
    fine rows, insertion-ordered by fine cell id (rows arrive sorted
    from _centroid_rows)."""
    import math

    n_coarse = max(1, math.ceil(math.sqrt(len(rows))))
    coarse = sorted(
        rows, key=lambda r: (_py_md5h32(f"co_{r['cell']}"), r["cell"])
    )[:n_coarse]
    coarse.sort(key=lambda r: r["cell"])
    groups: dict = {c["cell"]: [] for c in coarse}
    for r in rows:
        best_d, best_c = None, None
        for c in coarse:
            d = _py_sqdist(r["cvec"], c["cvec"])
            if best_d is None or d < best_d:
                best_d, best_c = d, c["cell"]
        groups[best_c].append(r)
    # Duplicate-centroid precondition (r12 ADVICE): if two coarse
    # picks share an identical vector, the distance-0 tie sends BOTH
    # coarse members to the lower id and the higher group comes out
    # empty — downstream the group map would embed an untyped
    # array() literal and a vector probing only empty groups would
    # get a silent NULL cell. Centroid seeds are distinct corpus
    # vectors in every catalog query, so fail loudly instead.
    empty = [co for co, fines in groups.items() if not fines]
    if empty:
        raise ValueError(
            "two_level_structure: coarse group(s) %r are empty — "
            "duplicate centroid vectors in the seed; deduplicate the "
            "centroid set before the two-level build" % (empty,)
        )
    return coarse, groups


def ivf_assign_two_level(
    corpus: DataFrame,
    centroids: DataFrame,
    coarse_nprobe: int = 2,
) -> DataFrame:
    """Two-level IVF assignment — the next-decade replacement for
    :func:`ivf_assign`'s flat argmin. The flat form pays N·C centroid
    distances per scan; with the adaptive sizing C = N/250 that term
    is N²/250 — QUADRATIC in the corpus, and the measured cause of
    the r12 sf1→sf10 probe's superlinear exponents (q169 exp +1.48:
    2e5 vectors × 800 centroids = 1.6e8 interpreted-HOF distance
    folds). Standard IVF sizing fixes the STRUCTURE: ceil(sqrt(C))
    coarse cells, fine argmin only within the chosen coarse group, so
    assignment drops to ~N·2·sqrt(C) distances — back to ~linear per
    decade (sqrt grows 3.2x per 10x).

    The approximation is the usual IVF one: a vector considers only
    the fine centroids of its ``coarse_nprobe`` nearest coarse
    groups. Single-coarse-probe was MEASURED too lumpy (r12, sf10:
    max cell 1976 vs the flat argmin's 933, candidate pairs +40% —
    boundary vectors pile into their group's edge cells and the
    within-cell pair stage pays it back); probing the 2 nearest
    coarse groups costs ~N·3·sqrt(C) distances — still ~sqrt(C)/3
    cheaper than flat (measured 12x at sf10 for the assignment
    scan) — and restores a near-flat cell histogram. Fully
    deterministic (hash coarse pick + (dist, cell) tie-breaks), so
    the identical two-level rule in SQL is an exact oracle.

    The cell is element 1 of :func:`two_level_cells_blas` at
    nprobe=1 — one dgemm per coarse group per Arrow batch (~100x
    cheaper per distance than the interpreted fold; the r13 fix for
    the residual sf1→sf10 exponent). Plan shape: one mapInPandas
    over a 2-column projection — ZERO shuffles, partition-prunable
    on the output ``cell`` exactly like ivf_assign.

    Output: (vec_id, embedding, cell) — same schema as ivf_assign."""
    if coarse_nprobe < 1:
        raise ValueError("coarse_nprobe must be >= 1")
    cell_type = centroids.schema["centroid_id"].dataType.simpleString()
    return two_level_cells_blas(
        corpus, centroids, coarse_nprobe=coarse_nprobe
    ).select(
        F.col("vec_id"),
        F.col("embedding"),
        F.element_at(F.col("_cells"), 1).cast(cell_type).alias("cell"),
    )


def _two_level_blas_payload(rows, coarse_nprobe: int) -> dict:
    """Driver-side numpy payload for the BLAS-batched two-level
    assignment: the same structure :func:`two_level_structure` builds,
    laid out as contiguous float64 matrices so each Arrow batch pays
    one GEMM per coarse group instead of an interpreted HOF fold per
    (vector, centroid) pair. Fine cells are addressed by CODE = index
    into the cell-id-sorted row list, so (dist, code) ordering is
    (dist, cell) ordering — the exact tie-break the DuckDB oracle
    uses."""
    import numpy as np

    coarse, groups = two_level_structure(rows)
    code = {r["cell"]: i for i, r in enumerate(rows)}
    Cc = np.array(
        [[float(v) for v in r["cvec"]] for r in coarse], dtype=np.float64
    )
    grp_vecs, grp_sq, grp_codes = [], [], []
    for c in coarse:
        fines = groups[c["cell"]]
        V = np.array(
            [[float(v) for v in r["cvec"]] for r in fines], dtype=np.float64
        )
        grp_vecs.append(np.ascontiguousarray(V.T))
        grp_sq.append(np.einsum("ij,ij->i", V, V))
        grp_codes.append(
            np.array([code[r["cell"]] for r in fines], dtype=np.int64)
        )
    fine_vecs = [[float(v) for v in r["cvec"]] for r in rows]
    return {
        "CcT": np.ascontiguousarray(Cc.T),
        "csq_c": np.einsum("ij,ij->i", Cc, Cc),
        "coarse_vecs": [[float(v) for v in r["cvec"]] for r in coarse],
        "grp_vecs": grp_vecs,
        "grp_sq": grp_sq,
        "grp_codes": grp_codes,
        "fine_vecs": fine_vecs,
        "all_cells": [r["cell"] for r in rows],
        "cnp": int(coarse_nprobe),
        # tolerance scale: max squared norm over the centroid set —
        # combined with the per-row ||x||^2 it bounds every term in
        # the expansion ||x-c||^2 = x.x - 2x.c + c.c, so
        # 1e-9 * (1 + x.x + sqmax) exceeds the f64 rounding gap
        # between the GEMM expansion and the sequential fold by ~5
        # orders of magnitude while staying ~6 orders below genuine
        # inter-centroid distance gaps.
        "sqmax": float(max(s.max() for s in grp_sq)) if grp_sq else 0.0,
    }


def _np_two_level_topk(X, pl, nprobe: int) -> list:
    """Exact top-``nprobe`` fine-cell codes per row of ``X`` under the
    two-level rule, computed with BLAS but guaranteed to equal the
    sequential-fold (dist, cell) ordering: rows whose decisive gaps —
    coarse-set boundary, fine top-1, fine top-nprobe boundary — fall
    inside the f64 tolerance band are re-scored with the exact
    left-to-right fold (:func:`_py_sqdist`). The band is ~5 orders of
    magnitude wider than the summation-order error and ~6 narrower
    than real distance gaps, so refinement fires only on genuine
    ties (duplicate vectors), never in the hot path."""
    import numpy as np

    B = X.shape[0]
    nc = pl["CcT"].shape[1]
    cnp = min(pl["cnp"], nc)
    xsq = np.einsum("ij,ij->i", X, X)
    tol = 1e-9 * (1.0 + xsq + pl["sqmax"])
    Dc = xsq[:, None] - 2.0 * (X @ pl["CcT"]) + pl["csq_c"][None, :]
    ordc = np.argsort(Dc, axis=1, kind="stable")
    if nc > cnp:
        dsort = np.take_along_axis(Dc, ordc, axis=1)
        # coarse ORDER inside the probed set never matters (the fine
        # union is symmetric); only membership at the cnp boundary
        # does.
        for i in np.nonzero(dsort[:, cnp] - dsort[:, cnp - 1] < tol)[0]:
            xs = X[i].tolist()
            exact = sorted(
                (_py_sqdist(xs, cv), g)
                for g, cv in enumerate(pl["coarse_vecs"])
            )
            ordc[i, :cnp] = [g for _, g in exact[:cnp]]
    pmask = np.zeros((B, nc), dtype=bool)
    pmask[np.arange(B)[:, None], ordc[:, :cnp]] = True
    rparts, dparts, cparts = [], [], []
    for g in range(nc):
        ridx = np.nonzero(pmask[:, g])[0]
        if ridx.size == 0:
            continue
        VT = pl["grp_vecs"][g]
        D = xsq[ridx, None] - 2.0 * (X[ridx] @ VT) + pl["grp_sq"][g][None, :]
        rparts.append(np.repeat(ridx, VT.shape[1]))
        dparts.append(D.ravel())
        cparts.append(np.tile(pl["grp_codes"][g], ridx.size))
    rows_all = np.concatenate(rparts)
    dist_all = np.concatenate(dparts)
    code_all = np.concatenate(cparts)
    order = np.lexsort((code_all, dist_all, rows_all))
    rows_s = rows_all[order]
    dist_s = dist_all[order]
    code_s = code_all[order]
    idx = np.arange(B)
    starts = np.searchsorted(rows_s, idx, side="left")
    ends = np.searchsorted(rows_s, idx, side="right")
    out = []
    for i in range(B):
        s, e = int(starts[i]), int(ends[i])
        m = e - s
        take = min(nprobe, m)
        ti = tol[i]
        # decisive gaps: EVERY adjacent boundary within the first
        # take+1 candidates (r16 — was: position 1 and the `take`
        # boundary only). The widening makes every PREFIX of the
        # emitted slice independently exact — q204 runs one wide pass
        # per coarse_nprobe and slices it for narrower configs, so
        # each interior position is now a potential set boundary. On
        # decisive rows (all real data seen so far) the emitted order
        # is unchanged; refinement still fires only on genuine ties.
        hi = min(take + 1, m)
        ambiguous = bool(
            (dist_s[s + 1 : s + hi] - dist_s[s : s + hi - 1] < ti).any()
        )
        if ambiguous:
            xs = X[i].tolist()
            exact = sorted(
                (_py_sqdist(xs, pl["fine_vecs"][int(c)]), int(c))
                for c in code_s[s:e]
            )
            out.append([c for _, c in exact[:take]])
        else:
            out.append([int(c) for c in code_s[s : s + take]])
    return out


def two_level_cells_blas(
    corpus: DataFrame,
    centroids: DataFrame,
    centroid_id: str = "centroid_id",
    centroid_vec: str = "centroid_vec",
    nprobe: int = 1,
    coarse_nprobe: int = 2,
) -> DataFrame:
    """BLAS-batched two-level assignment: (id, vec, ``_cells``) where
    ``_cells`` is each vector's top-``nprobe`` fine cells among the
    fine centroids of its ``coarse_nprobe`` nearest coarse groups, in
    exact (dist, cell) order of the sequential fold (every prefix is
    exact, by the tolerance-refined kernel). Element 1 is
    :func:`ivf_assign_two_level`'s cell, so one evaluation serves
    both the index side (element 1) and the probe side (explode) —
    the single-pass persist pattern the r11 bench forced.

    Why this exists (r12 SCALE.md): the interpreted-HOF fold pays
    ~1 µs per (vector, centroid) distance, and with adaptive sizing
    C = N/250 the two-level N·3·sqrt(C) distance count still grew
    the sf1→sf10 probes at exp +1.18…+1.34 — the sqrt(C)-growth ×
    interpreted-constant term. Arrow-batched numpy turns the same
    arithmetic into one dgemm per coarse group per batch (~100×
    cheaper per distance), flattening the per-decade constant while
    keeping the identical cell function.

    Plan shape: ``ArrowEvalPython``-style mapInPandas over a 2-column
    projection — still ZERO shuffles, still partition-prunable on the
    derived cell. The embedding column round-trips Arrow bit-exactly
    (float32 both ways), so downstream cosine arithmetic hashes
    identically."""
    import numpy as np  # noqa: F401 — hard requirement of this path
    import pandas as pd

    from pyspark.sql import types as T

    if coarse_nprobe < 1:
        raise ValueError("coarse_nprobe must be >= 1")
    if nprobe < 1:
        raise ValueError("nprobe must be >= 1")
    rows = _centroid_rows(centroids, centroid_id, centroid_vec)
    payload = _two_level_blas_payload(rows, coarse_nprobe)
    out_schema = T.StructType(
        [
            T.StructField("vec_id", corpus.schema["vec_id"].dataType),
            T.StructField("embedding", corpus.schema["embedding"].dataType),
            T.StructField(
                "_cells",
                T.ArrayType(centroids.schema[centroid_id].dataType),
            ),
        ]
    )
    all_cells = payload["all_cells"]

    def assign(batches):
        import numpy as np

        for pdf in batches:
            if len(pdf) == 0:
                continue
            X = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
            codes = _np_two_level_topk(X, payload, nprobe)
            yield pd.DataFrame(
                {
                    "vec_id": pdf["vec_id"].to_numpy(),
                    "embedding": pdf["embedding"].to_numpy(),
                    "_cells": [[all_cells[c] for c in cs] for cs in codes],
                }
            )

    return corpus.select("vec_id", "embedding").mapInPandas(assign, out_schema)


def flat_cells_blas(
    corpus: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    centroid_id: str = "centroid_id",
    centroid_vec: str = "centroid_vec",
    nprobe: int = 1,
) -> DataFrame:
    """BLAS-batched FLAT multiprobe assignment: (id, vec, ``_cells``)
    where ``_cells`` is each vector's top-``nprobe`` cells over the
    WHOLE centroid set in exact (dist, cell) order — the flat twin of
    :func:`two_level_cells_blas` (element 1 == :func:`ivf_assign`'s
    cell).

    Why it exists (r14): the interpreted flat-multiprobe expression
    (``slice(array_sort(transform(...)), 1, nprobe)``) paid an
    array_sort over C (dist, cell) structs PER ROW on top of the N·C
    interpreted distances — measured 108 s of q186's 123 s at sf10
    (C=802) once everything downstream had gone BLAS. One dgemm per Arrow batch computes the same distances
    ~100x cheaper and a stable argsort (columns pre-ordered by cell
    id) reproduces the (dist, cell) tie-break.

    Exactness: GEMM expands ||x-c||^2 = x.x - 2 x.c + c.c, which is
    NOT the fold's IEEE sequence, so the two DECISIVE boundaries —
    element 1 (the index cell) and the membership edge at
    ``nprobe`` — are tolerance-checked exactly as in
    :func:`_np_two_level_topk`; ambiguous rows re-score every cell
    with the exact fold (:func:`_py_sqdist`). Order strictly inside
    the probe set never changes semantics (the array is consumed as
    element-1 + exploded set, in the engine and in the oracle's
    ``rn <= nprobe``). Still a ZERO-shuffle narrow map."""
    import numpy as np
    import pandas as pd

    from pyspark.sql import types as T

    if nprobe < 1:
        raise ValueError("nprobe must be >= 1")
    rows = _centroid_rows(centroids, centroid_id, centroid_vec)
    V = np.array([[float(v) for v in r["cvec"]] for r in rows],
                 dtype=np.float64)
    VT = np.ascontiguousarray(V.T)
    vsq = np.einsum("ij,ij->i", V, V)
    sqmax = float(vsq.max()) if len(rows) else 0.0
    all_cells = [r["cell"] for r in rows]
    cvecs = [[float(v) for v in r["cvec"]] for r in rows]
    out_schema = T.StructType(
        [
            T.StructField(id_col, corpus.schema[id_col].dataType),
            T.StructField("embedding", corpus.schema["embedding"].dataType),
            T.StructField(
                "_cells",
                T.ArrayType(centroids.schema[centroid_id].dataType),
            ),
        ]
    )

    def assign(batches):
        import numpy as np

        for pdf in batches:
            if len(pdf) == 0:
                continue
            X = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
            xsq = np.einsum("ij,ij->i", X, X)
            tol = 1e-9 * (1.0 + xsq + sqmax)
            D = xsq[:, None] - 2.0 * (X @ VT) + vsq[None, :]
            take = min(nprobe, D.shape[1])
            # stable argsort over cell-id-ordered columns == the
            # (dist, cell) tie-break wherever distances are exact
            ords = np.argsort(D, axis=1, kind="stable")
            ds = np.take_along_axis(D, ords, axis=1)
            codes = []
            for i in range(D.shape[0]):
                ambiguous = (
                    D.shape[1] > 1 and ds[i, 1] - ds[i, 0] < tol[i]
                ) or (
                    D.shape[1] > take
                    and ds[i, take] - ds[i, take - 1] < tol[i]
                )
                if ambiguous:
                    xs = X[i].tolist()
                    exact = sorted(
                        (_py_sqdist(xs, cvecs[c]), c)
                        for c in range(len(cvecs))
                    )
                    codes.append([c for _, c in exact[:take]])
                else:
                    codes.append([int(c) for c in ords[i, :take]])
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col].to_numpy(),
                    "embedding": pdf["embedding"].to_numpy(),
                    "_cells": [[all_cells[c] for c in cs] for cs in codes],
                }
            )

    return corpus.select(id_col, "embedding").mapInPandas(assign, out_schema)


# Query rows per numpy score block in the BLAS kernels below: caps the
# per-task score matrix at _BATCH_ROWS x cell_size doubles.
_BATCH_ROWS = 2048


def _fold_norm(M):
    """l2 norms of the rows of ``M`` (f64) by the SAME IEEE sequence
    as :func:`l2_norm`'s SQL fold: acc = 0.0; acc += x_d * x_d for
    d = 0..dim-1, then one sqrt — vectorized ACROSS rows (each
    elementwise op applies the per-row add in fold order), so the
    result is bit-identical to the JVM expression."""
    import numpy as np

    acc = np.zeros(M.shape[0])
    for d in range(M.shape[1]):
        acc += M[:, d] * M[:, d]
    return np.sqrt(acc)


def knn_score_topk_blas(
    probe: DataFrame,
    index: DataFrame,
    k: int,
) -> DataFrame:
    """FOLD-EXACT batched candidate scoring + per-cell top-k for the
    kNN-graph build: cogroup the probe side (_qid, _v, cell — one row
    per probed cell) with the index side (_nid, _v, cell — each
    vector in its own cell) on ``cell`` and, per cell, compute every
    (query, candidate) cosine in numpy and keep each query's top-k
    WITHIN the cell. Per-cell top-k is a lossless reduction for the
    global top-k (a query's global top-k is drawn from the union of
    its probed cells), so the downstream global rank window sees
    N·nprobe·k rows instead of N·nprobe·cell_size candidate pairs —
    at sf10 that is 6.4M window rows instead of ~400M, and the
    ~1 µs/pair interpreted-HOF cosine (the graph family's dominant
    constant once assignment went BLAS in r13) becomes a vectorized
    numpy loop.

    EXACTNESS — no tolerance band, unlike the assignment kernel: the
    cosine here is NOT a dgemm. It is a per-dimension accumulation
    (``acc += X[:, d:d+1] * V[None, :, d]``) whose per-element IEEE
    sequence — ((0.0 + x0·v0) + x1·v1) + … — is exactly
    :func:`_dot`'s left-to-right fold, and the norms follow
    :func:`l2_norm`'s fold + sqrt (:func:`_fold_norm`). float32
    inputs widen to f64 exactly on both paths. So every score is
    bit-identical to the SQL expression, ties and all; the in-cell
    tiebreak (cos desc, then _nid asc) is a STABLE argsort over
    columns pre-sorted by _nid. Same flops as dgemm, but each
    per-cell matrix (~cell² doubles) stays cache-resident, so the
    64 passes cost ~the one dgemm would.

    Ordering parity notes: a NaN cosine (zero-norm vector) sorts
    FIRST under Spark's descending double order (NaN > +Inf), so the
    sort key maps NaN -> +Inf; self-pairs (qid == nid) are excluded
    as a same-cell join's ``_qid != _nid`` filter would.

    Scale: the cogroup is ONE exchange per side on the uniformly
    hashed ``cell`` key — the same shuffle a same-cell join pays — and
    each Arrow group is O(cell·nprobe) rows; query blocks of
    ``_BATCH_ROWS`` cap the per-task score matrix at
    _BATCH_ROWS × cell_size doubles."""
    import numpy as np  # noqa: F401 — hard requirement of this path
    from pyspark.sql import types as T

    qt = probe.schema["_qid"].dataType
    nt = index.schema["_nid"].dataType
    out_schema = T.StructType(
        [
            T.StructField("_qid", qt),
            T.StructField("_nid", nt),
            T.StructField("_cos", T.DoubleType()),
        ]
    )

    def score(left, right):
        import numpy as np
        import pandas as pd

        if len(left) == 0 or len(right) == 0:
            return pd.DataFrame(
                {
                    "_qid": left["_qid"].iloc[:0],
                    "_nid": right["_nid"].iloc[:0],
                    "_cos": np.array([], dtype=np.float64),
                }
            )
        V = np.stack(right["_v"].to_numpy()).astype(np.float64)
        nids = right["_nid"].to_numpy()
        # pre-sort candidates by _nid so a STABLE score argsort
        # breaks exact-cosine ties by _nid ascending — the SQL
        # window's (cos desc, _nid) order without per-row lexsorts
        ordv = np.argsort(nids, kind="stable")
        V = V[ordv]
        nids = nids[ordv]
        nv = _fold_norm(V)
        m = V.shape[0]
        tk = min(k + 1, m)  # +1: self may occupy one slot
        outs = []
        for s in range(0, len(left), _BATCH_ROWS):
            blk = left.iloc[s : s + _BATCH_ROWS]
            X = np.stack(blk["_v"].to_numpy()).astype(np.float64)
            qids = blk["_qid"].to_numpy()
            b = X.shape[0]
            nq = _fold_norm(X)
            acc = np.zeros((b, m))
            for d in range(X.shape[1]):
                acc += X[:, d : d + 1] * V[None, :, d]
            cos = acc / (nq[:, None] * nv[None, :])
            skey = np.where(np.isnan(cos), np.inf, cos)
            selfm = qids[:, None] == nids[None, :]
            skey = np.where(selfm, -np.inf, skey)
            ordc = np.argsort(-skey, axis=1, kind="stable")[:, :tk]
            rows = np.repeat(np.arange(b), tk)
            cols = ordc.ravel()
            qv = np.repeat(qids, tk)
            nvid = nids[cols]
            cv = cos[rows, cols]
            is_self = qv == nvid
            # keep each query's first k NON-self rows (rank order is
            # preserved within a query's tk slice)
            sm = is_self.reshape(b, tk)
            offset = np.cumsum(sm, axis=1) - sm
            new_rank = np.tile(np.arange(tk), b) - offset.ravel()
            keep = (~is_self) & (new_rank < k)
            outs.append(
                pd.DataFrame(
                    {"_qid": qv[keep], "_nid": nvid[keep], "_cos": cv[keep]}
                )
            )
        return pd.concat(outs, ignore_index=True)

    # an equi-join drops null keys; cogroup would group them — filter
    # for parity (cells are never null in practice)
    return (
        probe.filter(F.col("cell").isNotNull())
        .groupBy("cell")
        .cogroup(index.filter(F.col("cell").isNotNull()).groupBy("cell"))
        .applyInPandas(score, out_schema)
    )


def neardup_pairs_blas(assigned: DataFrame, threshold: float) -> DataFrame:
    """FOLD-EXACT per-cell all-pairs scoring for the embedding
    near-dup join (r16): one grouped ``applyInPandas`` over the
    assigned relation computes every same-cell (id1 < id2) cosine in
    numpy and emits only pairs passing a CONSERVATIVE pre-filter
    ``cos >= threshold - 1e-6`` (or NaN — Spark orders NaN above
    every double, so a NaN cosine passes the SQL ``>=`` and must
    reach the JVM filter here too). The caller applies the exact
    ``round(cos, 6) >= threshold`` JVM filter on the survivors, so
    the OUTPUT is bit-identical to a same-cell ``cosine()`` join: any
    pair with round-6 cosine >= t has raw cosine >= t - 5e-7, inside
    the 1e-6 margin — the margin only ever ADMITS extra candidates
    for the exact filter to kill.

    Exactness: the same per-dimension accumulation as
    :func:`knn_score_topk_blas` (``acc += X[:, d:d+1] * V[None, :,
    d]`` — :func:`_dot`'s left-to-right IEEE fold, vectorized across
    pairs) and :func:`_fold_norm` norms, so every emitted cosine is
    bit-identical to the SQL expression.

    Why: the cell-blocked self-join scored ~N·cell_size/2 pairs
    through the interpreted HOF fold — 41 of q46's 41 s at sf10 was
    the pair stage once assignment went BLAS. This kernel pays ONE
    exchange (groupBy cell) instead of the join's two, keeps each
    ~cell² score matrix cache-resident, and ships only
    output-plus-margin rows back through Arrow.

    Output: (id1, id2, _cos raw double), id1 < id2, same-cell pairs
    only — the caller owns rounding and the final threshold."""
    import numpy as np  # noqa: F401 — hard requirement of this path
    import pandas as pd

    from pyspark.sql import types as T

    idt = assigned.schema["vec_id"].dataType
    out_schema = T.StructType(
        [
            T.StructField("id1", idt),
            T.StructField("id2", idt),
            T.StructField("_cos", T.DoubleType()),
        ]
    )
    margin = threshold - 1e-6

    def score(pdf):
        import numpy as np

        m = len(pdf)
        if m < 2:
            return pd.DataFrame(
                {
                    "id1": pdf["vec_id"].iloc[:0],
                    "id2": pdf["vec_id"].iloc[:0],
                    "_cos": np.array([], dtype=np.float64),
                }
            )
        ids = pdf["vec_id"].to_numpy()
        # sort by id so the global-row < column test IS id1 < id2
        order = np.argsort(ids, kind="stable")
        ids = ids[order]
        V = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)[order]
        nv = _fold_norm(V)
        cols = np.arange(m)
        outs = []
        for s in range(0, m, _BATCH_ROWS):
            X = V[s : s + _BATCH_ROWS]
            b = X.shape[0]
            acc = np.zeros((b, m))
            for d in range(V.shape[1]):
                acc += X[:, d : d + 1] * V[None, :, d]
            cos = acc / (nv[s : s + _BATCH_ROWS][:, None] * nv[None, :])
            rows_idx = np.arange(s, s + b)
            keep = (rows_idx[:, None] < cols[None, :]) & (
                (cos >= margin) | np.isnan(cos)
            )
            ri, ci = np.nonzero(keep)
            outs.append(
                pd.DataFrame(
                    {
                        "id1": ids[ri + s],
                        "id2": ids[ci],
                        "_cos": cos[ri, ci],
                    }
                )
            )
        return pd.concat(outs, ignore_index=True)

    return (
        assigned.select("vec_id", "embedding", "cell")
        .filter(F.col("cell").isNotNull())
        .groupBy("cell")
        .applyInPandas(score, out_schema)
    )


def ivf_topk(
    assigned: DataFrame,
    centroids: DataFrame,
    queries: DataFrame,
    k: int = 10,
    nprobe: int = 2,
) -> DataFrame:
    """ANN search: per query, rank centroids by distance, keep the
    ``nprobe`` nearest cells, then exact cosine top-k within those
    cells only. Recall trades off with nprobe; the scan cost drops by
    ~C/nprobe versus brute force."""
    q_cells = ivf_assign_queries(queries, centroids, nprobe)
    c = assigned.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").alias("c_vec"),
        l2_norm(F.col("embedding")).alias("_cn"),
        F.col("cell"),
    )
    scored = (
        c.join(F.broadcast(q_cells.withColumn("_qn", l2_norm(F.col("q_vec")))), "cell")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            (
                _dot(F.col("q_vec"), F.col("c_vec"))
                / (F.col("_qn") * F.col("_cn"))
            ).alias("cos_raw"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_raw").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", F.round("cos_raw", 6).alias("cosine"), "rank")
    )


def embedding_neardup_pairs(
    corpus: DataFrame,
    centroids: DataFrame,
    threshold: float = 0.9,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs, IVF-cell blocked: the
    corpus is assigned to centroid cells, candidate pairs are
    same-cell only, and the exact cosine filter runs on candidates
    alone — never the O(n²) cross product. Same recall trade as any
    single-probe IVF: near-dups split across a cell boundary are
    missed; raise the centroid count or probe adjacent cells to
    tighten.

    The same-cell pairs are scored in the fold-exact
    :func:`neardup_pairs_blas` kernel (one grouped applyInPandas, a
    conservative in-kernel prefilter, then the exact JVM
    round+threshold on the survivors) — the pair stage was 41 of
    q46's 41 s at sf10 on the interpreted HOF fold.

    Scale: one shuffle keyed on ``cell``; cells are the skew knob
    (more centroids = smaller buckets). Emits each pair once
    (id1 < id2)."""
    assigned = ivf_assign(corpus, centroids)
    pairs = neardup_pairs_blas(assigned, threshold)
    return pairs.select(
        "id1",
        "id2",
        F.round(F.col("_cos"), 6).alias("cosine"),
    ).filter(F.col("cosine") >= threshold)


def knn_graph(
    corpus: DataFrame,
    centroids: DataFrame,
    k: int = 4,
    nprobe: int = 1,
    two_level: bool = False,
    coarse_nprobe: int = 2,
    cells_df: DataFrame | None = None,
) -> DataFrame:
    """Cell-blocked k-nearest-neighbor graph: every vector's top-k
    neighbors by exact cosine among candidates drawn from its
    ``nprobe`` nearest cells — the candidate generation step of
    kNN-graph clustering, graph-based label propagation, and
    NN-Descent-style index builds.

    ``nprobe=1`` is the classic single-probe blocking (same recall
    trade as :func:`embedding_neardup_pairs`: neighbors across a cell
    boundary are missed). ``nprobe>1`` probes each vector's next-
    nearest cells too (the top-``nprobe`` cell slice of one narrow
    assignment pass — zero extra shuffles on the probe side), recovering
    exactly the boundary-straddling neighbors single-probe drops;
    recall is monotone in nprobe because the probe set always
    contains the own cell. A candidate pair is never duplicated:
    each neighbor lives in ONE index cell, so (q, n) meets at most
    once however many cells q probes.

    Scale: the directed candidate relation is ``nprobe ·
    sum(cell²)``-bounded, never the O(n²) cross product, and the
    adaptive-centroid convention keeps cell size bounded, so
    candidates stay ~``N·nprobe·cell_size``. One shuffle on ``cell``
    for the :func:`knn_score_topk_blas` cogroup, one on the query id
    for the per-vector rank window (both uniformly hashed keys) —
    identical plan shape at any nprobe.

    ``cells_df`` (r16): a PRECOMPUTED (and typically caller-persisted)
    :func:`two_level_cells_blas` relation to use instead of running
    the assignment pass again — for sweep callers (q204) that already
    materialized the probe slice for their own bookkeeping. Only
    valid on the two-level multi-probe path; the `_cells` array
    must be in the kernel's (dist, cell) slice order (a prefix slice
    of a wider-nprobe pass is exactly that, because for a fixed
    coarse union top-n is a prefix of top-m, n <= m, under the
    kernel's deterministic total order). When given, knn_graph skips
    its own persist — the caller owns caching.

    Output: (vec_id, neighbor_id, cosine, rank) with rank 1..k,
    ranked on the raw double (round only at output, so ranking parity
    with an oracle holds wherever the raw scores are distinct)."""
    from pyspark.sql import Window

    from pyspark.storagelevel import StorageLevel

    if cells_df is not None and not (two_level and nprobe > 1):
        raise ValueError("cells_df requires the two-level multi-probe path")
    if nprobe == 1:
        # two_level routes the cell assignment through the
        # ivf_assign_two_level quantizer (N·2·sqrt(C) distances
        # instead of N·C) — the scoring downstream is identical; only
        # the cell labels differ.
        if two_level:
            assigned = ivf_assign_two_level(
                corpus, centroids, coarse_nprobe=coarse_nprobe
            )
        else:
            assigned = ivf_assign(corpus, centroids)
        assigned = assigned.persist(StorageLevel.MEMORY_AND_DISK)
        track(assigned)
        a = assigned.select(
            F.col("vec_id").alias("_qid"), F.col("embedding").alias("_v"), "cell"
        )
        b = assigned.select(
            F.col("vec_id").alias("_nid"), F.col("embedding").alias("_v"), "cell"
        )
    else:
        # ONE narrow pass computes each vector's top-nprobe cell list
        # in exact (dist, cell) order and BOTH join sides read the
        # persisted result: the index side takes element 1 (== the
        # single-probe assignment, same tie-break), the probe side
        # explodes the list. The r11 bench caught the naive form
        # paying the C-distance scan twice (separate assignment and
        # probe scans): 9.9 s -> this single-pass shape at sf0.1.
        cid, cvec = (
            ("cell", "cell_vec")
            if "cell" in centroids.columns
            else ("centroid_id", "centroid_vec")
        )
        if cells_df is not None:
            assigned = cells_df
        elif two_level:
            assigned = two_level_cells_blas(
                corpus, centroids, cid, cvec,
                nprobe=nprobe, coarse_nprobe=coarse_nprobe,
            )
        else:
            assigned = flat_cells_blas(
                corpus, centroids, "vec_id", cid, cvec, nprobe=nprobe
            )
        if cells_df is None:
            assigned = assigned.persist(StorageLevel.MEMORY_AND_DISK)
            track(assigned)
        b = assigned.select(
            F.col("vec_id").alias("_nid"), F.col("embedding").alias("_v"),
            F.element_at(F.col("_cells"), 1).alias("cell"),
        )
        a = assigned.select(
            F.col("vec_id").alias("_qid"), F.col("embedding").alias("_v"),
            F.explode_outer(F.col("_cells")).alias("cell"),
        )
    # fold-exact numpy scoring + per-cell top-k: the global rank
    # window below sees N·nprobe·k rows instead of the full candidate
    # relation, and every _cos is bit-identical to the _dot / l2_norm
    # expression (knn_score_topk_blas docstring).
    scored = knn_score_topk_blas(a, b, k=k)
    w = Window.partitionBy("_qid").orderBy(
        F.col("_cos").desc(), F.col("_nid")
    )
    return (
        scored
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            F.col("_qid").alias("vec_id"),
            F.col("_nid").alias("neighbor_id"),
            F.round(F.col("_cos"), 6).alias("cosine"),
            F.col("rank").cast("int").alias("rank"),
        )
    )


def knn_flat_probe_legs(
    corpus: DataFrame,
    centroids: DataFrame,
    query_pred: Column,
    k: int = 4,
    nprobe: int = 6,
) -> tuple[DataFrame, DataFrame]:
    """Both legs of the FLAT-family recall audit (single-probe and
    ``nprobe``-multiprobe top-k for the vectors matching
    ``query_pred``) from ONE flat assignment pass — the r15 q187
    restructure. The naive form (two full :func:`knn_graph` builds,
    filtered to the audited queries afterwards) paid the flat N·C
    assignment TWICE and ranked candidates for every corpus vector
    to keep 64 of them (sf10: ~150 s, exp +1.30). Here the top-
    ``nprobe`` cell slice is computed once for the whole corpus (the
    index side must know its cells — that N·C pass is the flat
    family's intrinsic, q197-canary cost), the probe side filters to
    the audited queries BEFORE the candidate join, and the single-
    probe leg is the slice's element 1 (== ivf_assign's argmin cell,
    same tie-break — the contract knn_graph's own index side relies
    on). Per-leg results are row-identical to
    ``knn_graph(..., nprobe=p).filter(query_pred)``: same candidate
    sets, same raw-double cosine, same (cos desc, neighbor) rank
    order — so existing oracles replay unchanged.

    Returns ``(single_df, multi_df)``, each (vec_id, neighbor_id,
    cosine, rank) like :func:`knn_graph`."""
    from pyspark.sql import Window
    from pyspark.storagelevel import StorageLevel

    cid, cvec = (
        ("cell", "cell_vec")
        if "cell" in centroids.columns
        else ("centroid_id", "centroid_vec")
    )
    assigned = (
        flat_cells_blas(corpus, centroids, "vec_id", cid, cvec, nprobe=nprobe)
        .withColumn("_norm", l2_norm(F.col("embedding")))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    track(assigned)
    b = assigned.select(
        F.col("vec_id").alias("_nid"),
        F.col("embedding").alias("v2"),
        F.col("_norm").alias("_n2"),
        F.element_at(F.col("_cells"), 1).alias("cell"),
    )
    qa = assigned.filter(query_pred)

    def _leg(a: DataFrame) -> DataFrame:
        pairs = a.join(b, "cell").filter(F.col("_qid") != F.col("_nid"))
        cos = _dot(F.col("v1"), F.col("v2")) / (F.col("_n1") * F.col("_n2"))
        w = Window.partitionBy("_qid").orderBy(
            F.col("_cos").desc(), F.col("_nid")
        )
        return (
            pairs.select("_qid", "_nid", cos.alias("_cos"))
            .withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select(
                F.col("_qid").alias("vec_id"),
                F.col("_nid").alias("neighbor_id"),
                F.round(F.col("_cos"), 6).alias("cosine"),
                "rank",
            )
        )

    single = _leg(
        qa.select(
            F.col("vec_id").alias("_qid"),
            F.col("embedding").alias("v1"),
            F.col("_norm").alias("_n1"),
            F.element_at(F.col("_cells"), 1).alias("cell"),
        )
    )
    multi = _leg(
        qa.select(
            F.col("vec_id").alias("_qid"),
            F.col("embedding").alias("v1"),
            F.col("_norm").alias("_n1"),
            F.explode_outer(F.col("_cells")).alias("cell"),
        )
    )
    return single, multi


def hash_ring_seed_graph(corpus: DataFrame, k: int = 4) -> DataFrame:
    """Deterministic RANDOM-init seed graph for NN-Descent (Dong et
    al. WWW 2011 start from a random k-NN guess): every vector gets
    exactly ``k`` pseudo-random neighbors with ZERO geometric
    information — the counterfactual that prices what cell-blocked
    seeding buys.

    Construction (no RNG state, portable to any engine): rank every
    id on ONE global ring ordered by (md5 hash, id); edge ``d``
    (d = 1..k) connects each vector to the ring position
    ``stride_d`` ahead (mod N), where ``stride_d = 1 +
    md5('rnds_<d>') % (N-1)`` — k pseudo-random LARGE strides shared
    by all vectors. Hash order is uncorrelated with embedding
    geometry, so the seed is "random" in the sense that matters, yet
    exactly reproducible by the same rule in SQL.

    Two designs were measured and rejected (r13):
    - bucketed rings plateau at the in-bucket exhaustive top-k
      (0.051@4 at sf0.01) — every 2-hop candidate stays a
      bucket-mate forever;
    - consecutive ring successors (strides 1..k) keep the frontier
      open but nearly closed — the k neighbors are ADJACENT ring
      positions, so the 2-hop union collapses to ~2k distinct
      candidates and round recall crawls (0.047@4 after 3 rounds).
    Spread strides give ~k² distinct 2-hop offsets, the candidate
    diversity the Dong et al. random init assumes.

    Scale: the global rank is the range-partitioned
    :func:`~ulh_etl_spark.operators.rank.global_row_number` (no
    unpartitioned window); the k stride targets are an explode + ONE
    rank-keyed equi-join, <= N·k rows. N and the strides are a lazy
    1-row aggregate folded in-plan (no driver count job). The ranked
    relation is persisted — both join sides read it. Requires N > k
    (self-wrap otherwise); stride collisions (md5 ties mod N-1) are
    deduped, so degree is k minus any collision.

    Output: (vec_id, neighbor_id) DISTINCT directed edges."""
    from pyspark.storagelevel import StorageLevel

    from ulh_etl_spark.operators.rank import global_row_number
    from ulh_etl_spark.operators.text import md5_hash32

    h = md5_hash32(
        F.concat(F.lit("rnd_"), F.col("vec_id").cast("string"))
    )
    ranked = track(
        global_row_number(
            corpus.select(F.col("vec_id"), h.alias("_h")),
            ["_h", "vec_id"],
            out_col="_rn",
        )
        .select("vec_id", "_rn")
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    ncnt = ranked.agg(F.count("*").cast("long").alias("_N"))
    strides = F.explode(
        F.array(
            *[
                F.pmod(
                    md5_hash32(F.lit(f"rnds_{d}")).cast("long"),
                    F.col("_N") - 1,
                )
                + 1
                for d in range(1, k + 1)
            ]
        )
    )
    probes = (
        ranked.crossJoin(F.broadcast(ncnt))
        .select(
            F.col("vec_id").alias("_src"),
            "_rn",
            "_N",
            strides.alias("_s"),
        )
        .select(
            "_src",
            (F.pmod(F.col("_rn") - 1 + F.col("_s"), F.col("_N")) + 1)
            .alias("_trn"),
        )
    )
    b = ranked.select(
        F.col("vec_id").alias("neighbor_id"), F.col("_rn").alias("_trn")
    )
    return (
        probes.join(b, "_trn")
        .filter(F.col("_src") != F.col("neighbor_id"))
        .select(F.col("_src").alias("vec_id"), "neighbor_id")
        .distinct()
    )


# nn_descent_round as one SQL statement ({idc}/{vecc}/{k} spliced per
# call, {g}/{c} bound as DataFrames). The fwd/und/nbrs/two_hop/cand
# CTEs mirror the docstring's local-join construction; vec computes
# the l2 norm with the exact l2_norm fold (same lambda order), and
# scored's cosine is the exact _dot fold over zip_with.
_NND_ROUND_SQL = """
WITH fwd AS (SELECT {idc} AS src, neighbor_id AS dst FROM {g}),
und AS (SELECT src, dst FROM fwd UNION ALL SELECT dst AS src, src AS dst FROM fwd),
nbrs AS (SELECT src, collect_set(dst) AS _ns FROM und GROUP BY src),
two_hop AS (
  SELECT _qid, _nid FROM (
    SELECT _qid, explode(_ns) AS _nid FROM (
      SELECT explode(_ns) AS _qid, _ns FROM nbrs))
  WHERE _qid != _nid),
cand AS (
  SELECT _qid, explode(_cs) AS _nid FROM (
    SELECT _qid, collect_set(_nid) AS _cs FROM (
      SELECT _qid, _nid FROM two_hop
      UNION ALL
      SELECT src AS _qid, dst AS _nid FROM fwd)
    GROUP BY _qid)),
vec AS (SELECT {idc} AS _vid, {vecc} AS _v,
        sqrt(aggregate({vecc}, CAST(0.0 AS DOUBLE),
             (acc, x) -> acc + CAST(x AS DOUBLE) * CAST(x AS DOUBLE))) AS _n
        FROM {c}),
scored AS (
  SELECT _qid, _nid,
         aggregate(zip_with(v1, v2, (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)),
                   CAST(0.0 AS DOUBLE), (acc, x) -> acc + x) / (_n1 * _n2) AS _cos
  FROM cand
  JOIN (SELECT _vid AS _nid, _v AS v2, _n AS _n2 FROM vec) USING (_nid)
  JOIN (SELECT _vid AS _qid, _v AS v1, _n AS _n1 FROM vec) USING (_qid))
SELECT _qid AS {idc}, _nid AS neighbor_id, round(_cos, 6) AS cosine,
       CAST(rank AS INT) AS rank
FROM (SELECT _qid, _nid, _cos,
             row_number() OVER (PARTITION BY _qid ORDER BY _cos DESC, _nid) AS rank
      FROM scored)
WHERE rank <= {k}
"""


def nn_descent_round(
    graph: DataFrame,
    corpus: DataFrame,
    k: int = 4,
) -> DataFrame:
    """One NN-Descent refinement round (Dong, Moses & Li, WWW 2011:
    "Efficient k-nearest neighbor graph construction for generic
    similarity measures"): a neighbor of my neighbor is likely my
    neighbor. Candidates for each vector = its current neighbors'
    neighbors through the UNDIRECTED current graph (out- and
    in-edges — the paper's general neighbors), unioned with its
    current edges; exact cosine scores the candidates and the top-k
    is kept. Because the current edges are always in the candidate
    set, per-query recall is monotone non-decreasing over rounds —
    the standard way to claim cross-cell recall without paying
    nprobe's candidate multiplier (the pivot hops cross cell
    boundaries for free).

    Seed choice matters — provably: seeded from the SINGLE-probe
    cell-blocked graph the round is a no-op, because that graph's
    undirected edges never leave a cell, so every 2-hop candidate is
    a cell-mate the seed's exhaustive in-cell top-k already scored
    (measured: zero recall change at every SF). Seed from a graph
    with cross-cell edges — the nprobe>=2 graph (a neighbor's OTHER
    probed cell becomes reachable) or the paper's random init. On
    the synthetic corpus the nprobe=2 seed refines recall@4 by
    ~0.05 per early round (q189/q201: flat cells 0.37 -> 0.45,
    two-level cells 0.332 -> 0.383, plateauing at 0.438 by round 3);
    the random hash-ring init (q205, cataloged r13) converges
    0.004 -> 0.074 -> 0.137 -> 0.188 over three rounds at sf0.01 —
    still climbing where the seeded ladder has plateaued: the
    counterfactual that prices what cell-blocked seeding buys.

    Scale: the undirected relation is <= 2Nk rows, the two-hop
    candidate relation <= N(2k)^2 — degree-bounded, never all-pairs.
    Two-hop candidates come from the paper's LOCAL JOIN: group the
    undirected edges by pivot (ONE partial-aggregated collect_set
    shuffle — map-side merge, <= |und| elements cross the wire) and
    emit every ordered pair of each pivot's neighbor set with a
    double explode. This replaces the r15 self-join formulation
    (und.distinct + x.dst==y.src join = 3 exchanges shuffling und
    twice) with 1 exchange shuffling it once; the pair SET is
    identical — (a, b) is a two-hop candidate iff some pivot u has
    a, b in N(u), which is exactly the grouped set's pair expansion
    (collect_set absorbs the duplicate undirected rows the old
    distinct removed; the candidate distinct below absorbs
    multi-pivot repeats, same as before). Trade-off: a pivot's
    |N(u)|^2 expansion now happens in one task instead of an
    AQE-splittable join partition — acceptable because degree is
    k-bounded out and hubness-bounded in for kNN graphs, and the
    expansion is an explode (streamed), not a buffered product.
    After the pairs the candidate dedup is ALSO a grouped collect_set
    — keyed on the query id rather than a (query, neighbor) distinct —
    because the rank window below partitions by the same key: the
    window (and its WindowGroupLimit top-k pushdown) reuses the
    groupBy's hash partitioning, so dedup + window cost ONE exchange,
    not two, whenever the vector joins broadcast (at shuffle-join
    scale the _nid join re-partitions in between and the two forms
    tie). Per-query candidate sets are degree-bounded (<= (2k)^2+k
    elements). Then two id-keyed joins fetch vectors (uniform keys)
    and the rank window keeps the top-k. Rounds compose: feed the
    output back in; each round's cost is identical.

    The whole round is ONE spark.sql statement (the
    connected_components per-phase lesson): built as chained
    DataFrame ops it cost ~0.35-0.5 s of py4j + eager analysis per
    round — comparable to the round's actual execution on a kNN-k
    edge relation — vs ~0.1 s parsed. The parsed tree is
    expression-identical (exceptAll-empty both directions; same
    zip_with/aggregate fold order for the cosine, so the doubles are
    bit-identical). Neighbor-side vectors attach FIRST, query-side
    LAST — the second join's hash partitioning on _qid is exactly
    the rank window's required distribution, so when the joins are
    shuffle joins (at scale) the window adds NO exchange.

    Output: (vec_id, neighbor_id, cosine, rank), the knn_graph
    schema, so every graph consumer (mutual edges, components,
    PageRank) plugs in unchanged."""
    def _ident(name: str) -> str:
        # Backtick-quote (and escape) the spliced identifiers so
        # reserved words / dotted / spaced column names parse, and
        # double any literal braces so the {g}/{c} DataFrame-kwarg
        # formatting below cannot be corrupted (ADVICE r16).
        quoted = "`" + name.replace("`", "``") + "`"
        return quoted.replace("{", "{{").replace("}", "}}")

    q = (
        _NND_ROUND_SQL.replace("{idc}", _ident("vec_id"))
        .replace("{vecc}", _ident("embedding"))
        .replace("{k}", str(int(k)))
    )
    return graph.sparkSession.sql(q, g=graph, c=corpus)


def mutual_knn_edges(knn: DataFrame) -> DataFrame:
    """Mutual-kNN edge filter: keep the undirected pair (i, j) only
    when i is in knn(j) AND j is in knn(i) — the standard
    symmetrization that strips hub-induced one-way edges before
    graph clustering (mutual edges are the high-precision core of a
    kNN graph). One equality join on the canonical (id1 < id2) pair
    key — never revisits the vectors.

    The kNN input is persisted here: the fwd/rev legs would otherwise
    each re-evaluate the ENTIRE kNN build (cell join + rank window),
    and downstream graph consumers (_undirect's union, the components
    rounds) multiply the references further — the r11 sf10 probe
    caught q169 paying the kNN build 4x (the single most expensive
    subtree in the graph family) before this persist.

    Output: (id1, id2) with id1 < id2."""
    from pyspark.storagelevel import StorageLevel

    knn = track(knn.persist(StorageLevel.MEMORY_AND_DISK))
    # EAGER materialization, not just a lazy persist: the fwd and rev
    # legs below become two sibling shuffle-map stages of one join
    # job, and Spark submits them CONCURRENTLY — with the persist
    # still cold, both stages race to compute every kNN partition
    # ("Block already exists" warnings) and the entire build runs
    # twice. Measured at sf10 (r14): build+mutual 76.9 s lazy vs the
    # build's own 39.6 s — the double build, not the components
    # fixpoint, was q160's sf10 exponent (+1.27). One count() pins
    # the blocks before the join plan ever executes.
    knn.count()
    fwd = knn.filter(F.col("vec_id") < F.col("neighbor_id")).select(
        F.col("vec_id").alias("id1"), F.col("neighbor_id").alias("id2")
    )
    rev = knn.filter(F.col("neighbor_id") < F.col("vec_id")).select(
        F.col("neighbor_id").alias("id1"), F.col("vec_id").alias("id2")
    )
    return fwd.join(rev, ["id1", "id2"])


def semantic_dedup(
    corpus: DataFrame,
    centroids: DataFrame,
    threshold: float = 0.9,
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, "SemDeDup: Data-efficient learning
    at web-scale through semantic deduplication"): cluster embeddings,
    then within each cluster drop all but one of every group of
    semantically near-identical vectors. Catches paraphrases and
    re-renderings that lexical (gram/MinHash) dedup cannot see.

    Keep rule (deterministic stand-in for the paper's random
    exemplar): a vector is DROPPED iff some same-cell vector with a
    SMALLER id is >= ``threshold`` cosine-similar. The min-id member
    of any similarity chain always survives; order-free, one pass,
    exactly reproducible by the SQL oracle.

    Scale: identical shape to ``embedding_neardup_pairs`` — narrow
    assignment, then the same-cell pairs are scored in the fold-exact
    :func:`neardup_pairs_blas` kernel on ONE shuffle keyed by
    ``cell`` (cells bound the pair fan-out; centroid count is the
    skew knob), and the dropped set is derived from its survivors
    (exact JVM round+threshold after the kernel's conservative
    margin), followed by a distinct on the dropped-id column and a
    same-key anti-join-style flag join. Never all-pairs.

    Returns (vec_id, cell, kept) for every input vector.
    """
    from pyspark.storagelevel import StorageLevel

    assigned = ivf_assign(corpus, centroids).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    track(assigned)
    dropped = (
        neardup_pairs_blas(assigned, threshold)
        .filter(F.round(F.col("_cos"), 6) >= threshold)
        .select(F.col("id2").alias("vec_id"))
        .distinct()
        .withColumn("_dropped", F.lit(True))
    )
    return (
        assigned.select("vec_id", "cell")
        .join(dropped, "vec_id", "left")
        .select(
            "vec_id",
            "cell",
            F.col("_dropped").isNull().alias("kept"),
        )
    )


def kmeans_refine(
    corpus: DataFrame,
    centroids: DataFrame,
    iterations: int = 1,
) -> DataFrame:
    """Lloyd's k-means refinement of IVF centroids: assign -> per-cell
    mean -> repeat. The per-cell mean is a grouped ``applyInPandas``
    stage (numpy column-mean over the cell's vectors) — the genuinely
    non-SQL piece is the *iteration*, a driver loop re-broadcasting
    refreshed centroids each round (the standard Spark k-means shape;
    MLlib does the same with aggregators).

    Scale: each iteration is one narrow assignment map plus one
    shuffle on ``cell``; centroid count stays driver-small. Because
    ``ivf_assign`` collects the incoming centroids into a literal,
    each iteration also cuts the lineage — plan size stays constant
    across rounds instead of growing. Returns the refined centroids
    as (centroid_id, centroid_vec).
    """
    import pandas as pd

    def cell_mean(pdf: "pd.DataFrame") -> "pd.DataFrame":
        import numpy as np

        vecs = np.stack(pdf["embedding"].values)
        mean = np.round(vecs.astype("float64").mean(axis=0), 6)
        return pd.DataFrame(
            {"centroid_id": [int(pdf["cell"].iloc[0])],
             "centroid_vec": [mean.tolist()]}
        )

    cents = centroids
    for _ in range(iterations):
        assigned = ivf_assign(corpus, cents)
        cents = assigned.groupBy("cell").applyInPandas(
            cell_mean,
            schema="centroid_id int, centroid_vec array<double>",
        )
    return cents


def hyperplane_weights(num_planes: int, dim: int) -> list[list[float]]:
    """Deterministic random-hyperplane matrix: w[p][d] derived from
    md5('hp_{p}_{d}'), uniform on the 0.001 grid in [-1, 1]. md5 makes
    the planes reproducible across Spark, DuckDB, and Python — no RNG
    state to ship."""
    import hashlib

    def w(p: int, d: int) -> float:
        h = int(hashlib.md5(f"hp_{p}_{d}".encode()).hexdigest()[:8], 16)
        return (h % 2001 - 1000) / 1000.0

    return [[w(p, d) for d in range(dim)] for p in range(num_planes)]


def hyperplane_signature(
    corpus: DataFrame,
    dim: int,
    num_planes: int = 16,
) -> DataFrame:
    """Cosine-LSH bit signature: bit p = [w_p . v > 0] for
    ``num_planes`` fixed random hyperplanes.

    Scale: the plane matrix is a driver-side constant folded into the
    expression — the signature is a pure narrow map over the corpus
    (NO shuffle, NO join, unlike an exploded (vec, dim, plane)
    formulation which would shuffle |corpus| x dim rows). Two vectors
    agree on a bit with probability 1 - theta/pi — banding the bits
    gives candidate pairs for near-neighbor search at any scale.

    r16 shape: the matrix enters as ONE nested-array SQL literal
    (string-parsed JVM-side — the per-element F.lit/py4j conversion
    of num_planes x dim scalars cost 0.7 s per invocation by itself)
    and the per-plane chain of 2x num_planes lambda HOFs collapses to
    one transform over the plane axis + one zip_with/aggregate bit
    fold — analysis-light, same interpreted per-element arithmetic.
    Values bit-identical: each plane's dot replays the same
    zip_with/aggregate left-to-right fold, [dot > 0] picks the same
    power-of-two summand, and the bit sum is integer addition
    (measured: zero signature mismatches corpus-wide)."""
    planes = hyperplane_weights(num_planes, dim)
    planes2d = F.expr(
        "array({})".format(
            ",".join(
                "array({})".format(
                    ",".join(f"CAST('{float(w)!r}' AS DOUBLE)" for w in p)
                )
                for p in planes
            )
        )
    )
    powers = F.lit([1 << p for p in range(num_planes)]).cast("array<long>")
    v = F.col("embedding")
    dots = F.transform(
        planes2d,
        lambda w: F.aggregate(
            F.zip_with(
                v, w, lambda x, y: x.cast("double") * y.cast("double")
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ),
    )
    sig = F.aggregate(
        F.zip_with(
            dots,
            powers,
            lambda d, pw: F.when(d > 0, pw).otherwise(F.lit(0).cast("long")),
        ),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    return corpus.select(F.col("vec_id"), sig.alias("hsig"))


def hyperplane_candidate_pairs(
    corpus: DataFrame,
    dim: int,
    num_planes: int = 16,
    rows_per_band: int = 8,
) -> DataFrame:
    """LSH candidate pairs over the hyperplane signature: band the
    bits, equality self-join on (band_idx, band_val), id1 < id2,
    distinct. Identical join shape to MinHash LSH
    (operators/dedup.py) — O(sum bucket²), never all-pairs."""
    from pyspark.storagelevel import StorageLevel

    num_bands = num_planes // rows_per_band
    mask = (1 << rows_per_band) - 1
    sigs = hyperplane_signature(corpus, dim, num_planes)
    bands = sigs.select(
        F.col("vec_id"),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band_idx"),
                        F.shiftright(F.col("hsig"), b * rows_per_band)
                        .bitwiseAND(F.lit(mask))
                        .alias("band_val"),
                    )
                    for b in range(num_bands)
                ]
            )
        ).alias("band"),
    ).select(
        "vec_id",
        F.col("band.band_idx").alias("band_idx"),
        F.col("band.band_val").alias("band_val"),
    ).persist(StorageLevel.MEMORY_AND_DISK)
    track(bands)
    a = bands.alias("a")
    b = bands.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_val") == F.col("b.band_val"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .select(
            F.col("a.vec_id").alias("id1"),
            F.col("b.vec_id").alias("id2"),
        )
        .distinct()
    )


def ivf_assign_queries(
    queries: DataFrame,
    centroids: DataFrame,
    nprobe: int,
) -> DataFrame:
    """Per-query nearest-``nprobe`` cells — same zero-shuffle shape as
    ``ivf_assign``: sort the literal centroid array by (dist, cell)
    and explode the first ``nprobe`` entries. No crossJoin, no window.
    """
    cid, cvec = (
        ("cell", "cell_vec")
        if "cell" in centroids.columns
        else ("centroid_id", "centroid_vec")
    )
    cell_type = centroids.schema[cid].dataType.simpleString()
    cells = _centroid_literal(centroids, cid, cvec)
    scored = F.transform(
        cells,
        lambda c: F.struct(
            _sq_dist(F.col("embedding"), c["cvec"]).alias("dist"),
            c["cell"].alias("cell"),
        ),
    )
    probed = F.slice(F.array_sort(scored), 1, nprobe)
    # explode_outer, not explode: InferFiltersFromGenerate would turn a
    # plain explode into a size(...) > 0 pre-filter that re-evaluates
    # the whole C-distance transform per row (see operators/text.py for
    # the same pattern); the array is never empty (nprobe >= 1, C >= 1)
    # so the outer variant is semantically identical.
    return queries.select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_vec"),
        F.explode_outer(probed).alias("probe"),
    ).select(
        "query_id", "q_vec", F.col("probe.cell").cast(cell_type).alias("cell")
    )


def write_ivf_index(assigned: DataFrame, path: str) -> None:
    """Materialize the IVF index the way probes want to read it: one
    parquet directory per ``cell``, so ``ivf_probe_pruned`` scans are
    partition-pruned to the nprobe cells — at 100 TB a probe reads
    C/nprobe-th of the corpus from DIRECTORY listing alone, before
    any row is touched. One exchange (the partition-keyed write)."""
    (
        assigned.repartition("cell")
        .write.mode("overwrite")
        .partitionBy("cell")
        .parquet(path)
    )


def ivf_probe_pruned(
    spark,
    index_path: str,
    centroids: DataFrame,
    queries: DataFrame,
    k: int = 10,
    nprobe: int = 2,
) -> DataFrame:
    """ANN probe over a written IVF index: the nprobe cell ids are
    driver-known (centroids are tiny), so the cell filter folds into
    an IN-list the scan prunes DIRECTORIES with — `.explain` shows
    PartitionFilters, and only nprobe/C of the files are listed.
    Same semantics as ``ivf_topk`` over the in-memory assignment."""
    q_cells = ivf_assign_queries(queries, centroids, nprobe)
    cells = sorted({r["cell"] for r in q_cells.select("cell").distinct().collect()})
    assigned = spark.read.parquet(index_path).filter(F.col("cell").isin(cells))
    return ivf_topk(assigned, centroids, queries, k=k, nprobe=nprobe)


# ---------------------------------------------------- product quantization


def pq_codebook(
    corpus: DataFrame,
    dim: int,
    m: int = 4,
    ksub: int = 16,
) -> DataFrame:
    """Deterministic product-quantization codebook (Jégou et al. 2011,
    "Product Quantization for Nearest Neighbor Search"): split the
    ``dim``-dimensional space into ``m`` contiguous subspaces of
    dim/m dims; subspace ``s``'s ``ksub`` codewords are the
    corresponding slices of the first ``ksub`` vectors by id — the
    same seed-not-Lloyd stand-in the IVF family uses (_centroids);
    refine with ``kmeans_refine`` per subspace when quantization
    error matters more than oracle determinism.

    Returns (subspace int, code int, cvec array<double>) — m * ksub
    rows, driver-small by construction (the PQ contract: the codebook
    always fits in memory; that is what makes encode a narrow map).
    """
    if dim % m != 0:
        raise ValueError(f"m={m} must divide dim={dim}")
    if ksub < 2:
        raise ValueError("ksub must be >= 2")
    dsub = dim // m
    w = Window.orderBy("vec_id")
    seeds = (
        corpus.orderBy("vec_id")
        .limit(ksub)
        .withColumn("code", F.row_number().over(w) - 1)
    )
    subs = F.array(
        *[
            F.struct(
                F.lit(s).alias("subspace"),
                F.transform(
                    F.slice(F.col("embedding"), s * dsub + 1, dsub),
                    lambda x: x.cast("double"),
                ).alias("cvec"),
            )
            for s in range(m)
        ]
    )
    return seeds.select(
        F.explode(subs).alias("_s"), F.col("code").cast("int").alias("code")
    ).select(
        F.col("_s.subspace").alias("subspace"), "code", F.col("_s.cvec").alias("cvec")
    )


def _pq_literals(codebook: DataFrame) -> "list[tuple[Column, list]]":
    """Collect the (driver-small) codebook once and fold each
    subspace's codewords into an ``array<struct<code, cvec>>`` plan
    literal ordered by code — the PQ analogue of _centroid_literal
    (same single-F.expr construction; per-element F.lit calls cost a
    py4j round-trip each). Returns [(literal, rows)] indexed by
    subspace; ``rows`` are the collected codewords for driver-side
    LUT computation in ``pq_adc_topk``."""
    cache = codebook.__dict__.setdefault("_ulh_pq_cache", {})
    if "lits" not in cache:
        rows = codebook.select("subspace", "code", "cvec").collect()
        by_sub: dict[int, list] = {}
        for r in rows:
            by_sub.setdefault(r["subspace"], []).append(r)
        out = []
        for s in sorted(by_sub):
            cws = sorted(by_sub[s], key=lambda r: r["code"])
            elems = ", ".join(
                "named_struct('code', CAST({} AS INT), 'cvec', array({}))".format(
                    int(r["code"]),
                    ", ".join(f"CAST('{float(v)!r}' AS DOUBLE)" for v in r["cvec"]),
                )
                for r in cws
            )
            out.append((F.expr(f"array({elems})"), cws))
        cache["lits"] = out
    return cache["lits"]


def pq_encode(corpus: DataFrame, codebook: DataFrame) -> DataFrame:
    """PQ-encode every vector: per subspace, the code of the nearest
    codeword (squared L2, deterministic lowest-code tie-break), plus
    the total reconstruction error — the audit metric that sizes
    m/ksub for a target distortion.

    Scale: the codebook folds into plan literals (same zero-shuffle
    shape as ivf_assign — NO |corpus| x ksub join amplification);
    encode is a pure narrow map over the scan, so a 100 TB corpus
    PQ-encodes in one pass writing (id, m bytes) — a 64-dim float
    corpus compresses 64x, which is what lets the ADC scan of
    ``pq_adc_topk`` keep the whole index hot. recon_err sums the m
    per-subspace minima left-to-right (oracle mirrors the order)."""
    lits = _pq_literals(codebook)
    m = len(lits)
    dim = len(lits[0][1][0]["cvec"]) * m
    dsub = dim // m
    def _scored(lit: Column, sub: Column) -> Column:
        # NB: the lambda must stay single-parameter — a two-parameter
        # lambda is the (element, index) transform form and the second
        # argument would silently bind to the INT index.
        return F.transform(
            lit,
            lambda c: F.struct(
                _sq_dist(sub, c["cvec"]).alias("dist"),
                c["code"].alias("code"),
            ),
        )

    bests = []
    for s, (lit, _) in enumerate(lits):
        sub = F.slice(F.col("embedding"), s * dsub + 1, dsub)
        bests.append(F.array_min(_scored(lit, sub)))
    recon = bests[0]["dist"]
    for b in bests[1:]:
        recon = recon + b["dist"]
    return corpus.select(
        F.col("vec_id"),
        F.array(*[b["code"] for b in bests]).alias("codes"),
        recon.alias("recon_err"),
    )


def sq8_bounds(corpus: DataFrame) -> tuple[list, list]:
    """Exact per-dimension (min, max) over the corpus — the training
    pass of scalar quantization. One posexplode + groupBy(dim):
    min/max partial-aggregate map-side, so the shuffle carries only
    dim x partitions rows regardless of corpus size; the result is
    driver-small (2 x dim doubles) and folds into the encode plan as
    literals, exactly like a PQ codebook. min/max are EXACT (no
    accumulation), so the DuckDB oracle computes bit-identical
    bounds from the same float32 values."""
    rows = (
        corpus.select(F.posexplode(F.col("embedding")).alias("_d", "_v"))
        .groupBy("_d")
        .agg(
            F.min(F.col("_v").cast("double")).alias("mn"),
            F.max(F.col("_v").cast("double")).alias("mx"),
        )
        .orderBy("_d")
        .collect()
    )
    return [r.mn for r in rows], [r.mx for r in rows]


def sq8_encode(corpus: DataFrame, bounds: tuple[list, list]) -> DataFrame:
    """SQ8 scalar quantization: each dimension linearly quantized to
    an 8-bit code against the corpus [min, max] range —
    ``code_d = clamp(floor((v - mn) * 255 / (mx - mn)), 0, 255)`` —
    plus the reconstruction error of the midpoint decode
    ``mn + (code + 0.5) * (mx - mn) / 255`` (the encode step is span/255, so the decode grid must match — a /256 decode drifts by c*span/65280 and the error bound breaks mid-range). The 4x-compression
    sibling of :func:`pq_encode` (FAISS's SQ8): no codebook training,
    per-dimension independence, and the same audit contract —
    ``recon_err`` is what sizes bits-per-dim for a target distortion.

    Scale: the bounds ride the plan as two dim-length literal arrays
    (PQ-codebook shape); encode + error is a pure zip_with narrow map
    over the scan — zero shuffles, one pass, at any corpus size.
    Every double op (subtract, scale, divide, floor, the
    left-to-right error fold) mirrors the DuckDB oracle exactly;
    flat dimensions (mx == mn) encode 0 with the dimension skipped
    in the error (its midpoint decode equals the value)."""
    mns, mxs = bounds
    mn_lit = F.expr(
        "array({})".format(", ".join(f"CAST({v!r} AS DOUBLE)" for v in mns))
    )
    mx_lit = F.expr(
        "array({})".format(", ".join(f"CAST({v!r} AS DOUBLE)" for v in mxs))
    )
    v = F.col("embedding")

    def code_at(i):
        x = F.element_at(v, i).cast("double")
        mn = F.element_at(mn_lit, i)
        mx = F.element_at(mx_lit, i)
        return F.when(
            mx > mn,
            F.greatest(
                F.lit(0),
                F.least(
                    F.floor((x - mn) * F.lit(255.0) / (mx - mn)), F.lit(255)
                ),
            ).cast("int"),
        ).otherwise(F.lit(0))

    def err_at(i):
        # d * d, never pow(d, 2): pow may take the exp/log path and
        # the oracle must fold the identical doubles
        mn = F.element_at(mn_lit, i)
        mx = F.element_at(mx_lit, i)
        x = F.element_at(v, i).cast("double")
        d = x - (
            mn + (code_at(i).cast("double") + F.lit(0.5))
            * (mx - mn) / F.lit(255.0)
        )
        return F.when(mx > mn, d * d).otherwise(F.lit(0.0))

    idx = F.sequence(F.lit(1), F.size(v))
    codes = F.transform(idx, lambda i: code_at(i))
    err_terms = F.transform(idx, lambda i: err_at(i))
    recon = F.aggregate(err_terms, F.lit(0.0), lambda a, x: a + x)
    return corpus.select(
        F.col("vec_id"),
        codes.alias("codes"),
        recon.alias("recon_err"),
    )


def pq_adc_topk(
    encoded: DataFrame,
    codebook: DataFrame,
    queries: DataFrame,
    k: int = 10,
) -> DataFrame:
    """Asymmetric-distance top-k over PQ codes: per query, precompute
    the m x ksub lookup table of squared distances from the query's
    subvectors to every codeword (driver-side — m*ksub doubles per
    query, the whole point of ADC), then score each corpus row as the
    SUM OF m TABLE LOOKUPS — no float arithmetic against the original
    vectors, which never load.

    Scale: queries and LUTs are plan literals (driver-small, like
    _centroid_literal); the scan reads only (id, codes) — m bytes a
    row instead of dim floats — and scoring is a narrow map; the only
    shuffle is the per-query top-k window. The fan-out explodes ONLY
    the bigint query-id array; each row's LUT comes from a map
    literal via element_at (the ivfpq_adc_topk shape), so the
    |corpus| x |queries| intermediate never carries the m x ksub
    double table — with an exploded LUT struct the intermediate
    would be m*ksub*8 bytes a row and dwarf the (id, codes) scan
    the operator exists to keep small. LUT doubles are computed
    with the same left-to-right fold as _sq_dist so the DuckDB oracle
    (which recomputes them symbolically) hash-matches.

    Returns (query_id, vec_id [neighbor id], adc_dist, rank).
    """
    lits = _pq_literals(codebook)
    m = len(lits)
    luts = _adc_luts(lits, queries)
    map_entries = ", ".join(
        f"CAST({qid} AS BIGINT), {_lut_sql(lut)}" for qid, lut in luts
    )
    lut_map = F.expr(f"map({map_entries})")
    qid_lit = F.expr(
        "array({})".format(
            ", ".join(f"CAST({qid} AS BIGINT)" for qid, _ in luts)
        )
    )
    lut = F.element_at(lut_map, F.col("query_id"))
    dist = lut[0][F.col("codes")[0]]
    for s in range(1, m):
        dist = dist + lut[s][F.col("codes")[s]]
    scored = encoded.select(
        F.col("vec_id"), F.col("codes"), F.explode(qid_lit).alias("query_id")
    ).select(
        "query_id",
        F.col("vec_id"),
        dist.alias("_d"),
    )
    w = Window.partitionBy("query_id").orderBy(F.col("_d"), F.col("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "query_id",
            "vec_id",
            F.round("_d", 6).alias("adc_dist"),
            "rank",
        )
    )


def _adc_luts(lits, queries: DataFrame):
    """Collect the (driver-small) query set and compute each query's
    m x ksub ADC lookup table: squared distances from its subvectors
    to every codeword, with the identical sequential double fold as
    _sq_dist / DuckDB's list_sum so the oracle hash stays stable.
    Returns [(query_id, lut)] sorted by query id."""
    m = len(lits)
    dsub = len(lits[0][1][0]["cvec"])
    q_rows = queries.select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_vec")
    ).collect()
    q_rows.sort(key=lambda r: r["query_id"])
    out = []
    for r in q_rows:
        qv = r["q_vec"]
        lut = []
        for s, (_, cws) in enumerate(lits):
            sub = qv[s * dsub : (s + 1) * dsub]
            lut.append([_py_sqdist(sub, cw["cvec"]) for cw in cws])
        out.append((int(r["query_id"]), lut))
    return out


def _lut_sql(lut) -> str:
    """m x ksub LUT as an array(array(double)) SQL literal."""
    return "array({})".format(
        ", ".join(
            "array({})".format(
                ", ".join(f"CAST('{d!r}' AS DOUBLE)" for d in row)
            )
            for row in lut
        )
    )


def l2_topk(corpus: DataFrame, queries: DataFrame, k: int = 10) -> DataFrame:
    """Brute-force exact squared-L2 top-k — the ground-truth leg for
    ADC/IVF recall audits. Same shape as cosine_topk: queries
    broadcast, corpus never shuffles, one per-query top-k window."""
    q = queries.select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_vec")
    )
    scored = corpus.crossJoin(F.broadcast(q)).select(
        "query_id",
        F.col("vec_id"),
        _sq_dist(F.col("embedding"), F.col("q_vec")).alias("_d"),
    )
    w = Window.partitionBy("query_id").orderBy(F.col("_d"), F.col("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "query_id", "vec_id", F.round("_d", 6).alias("l2_sq"), "rank"
        )
    )


def ivfpq_adc_topk(
    encoded_cells: DataFrame,
    codebook: DataFrame,
    centroids: DataFrame,
    queries: DataFrame,
    k: int = 10,
    nprobe: int = 2,
) -> DataFrame:
    """IVF-PQ search — the FAISS IVFPQ shape, the composition that
    actually runs billion-vector ANN: coarse quantizer prunes the
    corpus to ``nprobe`` cells per query (IVF), then asymmetric
    distance over PQ codes ranks within them (m table lookups a row,
    no float vectors loaded).

    ``encoded_cells``: (id, cell, codes) — the at-rest index row,
    ivf_assign's cell + pq_encode's codes; written partitionBy(cell)
    it is both partition-pruned AND 64x smaller than raw floats.

    Scale: centroids and per-query LUTs fold into plan literals; the
    probe is a broadcast join on cell (corpus side never shuffles);
    the only shuffle is the per-query top-k window over the probed
    fraction. Cost vs pq_adc_topk drops by ~nprobe/C; recall trades
    exactly as IVF's. Self-matches are kept (pq_adc_topk contract).

    Returns (query_id, vec_id, adc_dist, rank).
    """
    lits = _pq_literals(codebook)
    m = len(lits)
    luts = _adc_luts(lits, queries)
    map_entries = ", ".join(
        f"CAST({qid} AS BIGINT), {_lut_sql(lut)}" for qid, lut in luts
    )
    lut_map = F.expr(f"map({map_entries})")
    q_cells = ivf_assign_queries(queries, centroids, nprobe).select(
        "query_id", "cell"
    )
    lut = F.element_at(lut_map, F.col("query_id"))
    dist = lut[0][F.col("codes")[0]]
    for s in range(1, m):
        dist = dist + lut[s][F.col("codes")[s]]
    scored = encoded_cells.join(F.broadcast(q_cells), "cell").select(
        "query_id", F.col("vec_id"), dist.alias("_d")
    )
    w = Window.partitionBy("query_id").orderBy(F.col("_d"), F.col("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "query_id", "vec_id", F.round("_d", 6).alias("adc_dist"), "rank"
        )
    )


def ivf_append(
    spark,
    index_path: str,
    new_vectors: DataFrame,
    centroids: DataFrame,
) -> list:
    """Incremental maintenance of the at-rest IVF index: assign ONLY
    the new vectors to cells (ivf_assign — zero-shuffle narrow map)
    and APPEND them into the existing cell-partitioned layout.
    Existing files are never read or rewritten — the write is
    dynamic-partition append, so a day's ingest touches only the
    cells its vectors land in (returned, driver-small: bounded by C).

    This is the standard IVF ingest loop: centroids stay FIXED
    between retrains (moving them would orphan the at-rest
    assignment), appended cells accumulate small files, and a
    periodic compact_partitions + centroid retrain (kmeans_refine +
    full rewrite) resets both drifts. Probes via ivf_probe_pruned see
    appended rows immediately — same PartitionFilters pruning, no
    index rebuild."""
    assigned = ivf_assign(new_vectors, centroids)
    cells = sorted(
        r["cell"] for r in assigned.select("cell").distinct().collect()
    )
    (
        assigned.repartition("cell")
        .write.mode("append")
        .partitionBy("cell")
        .parquet(index_path)
    )
    return cells


def compact_cells(
    spark,
    index_path: str,
    min_files: int = 2,
    target_files: int = 1,
) -> dict:
    """Per-cell small-file compaction for a cell-partitioned at-rest
    index — the maintenance counterpart of :func:`ivf_append` (every
    append adds files to the touched cells; file COUNT, not bytes,
    dominates probe planning once appends accumulate).

    Rewrites ONLY the cells whose file count >= ``min_files`` — each
    rewrite reads one cell directory
    (PartitionFilters-pruned scan), coalesces to ``target_files`` and
    atomically replaces just that directory. Untouched cells keep
    their exact files, so the hot path (probes) never waits on a
    full-index rewrite. Returns {cell: files_before} for the
    compacted cells.

    Scale: work is proportional to the appended (fragmented) cells,
    not the index; run it on cold cells between ingest waves. The
    per-cell replace is last-writer-wins against a concurrent append
    to the SAME cell — pause appends per cell or layer a table format
    (Delta/Iceberg) when ingest is continuous.

    All listing / staging / swap I/O goes through the Hadoop
    FileSystem API resolved from ``index_path`` — the maintenance
    loop works on the same storage tiers (HDFS, S3A, local file:/)
    the index writers (:func:`write_ivf_index` / :func:`ivf_append`)
    support, not just a locally mounted POSIX path. Staging lives in
    an underscore-prefixed dir under the index root (hidden from
    Spark's file listing), so staged->final moves are same-FS
    renames, never copies."""
    jvm = spark._jvm
    hconf = spark._jsc.hadoopConfiguration()
    HPath = jvm.org.apache.hadoop.fs.Path
    root = HPath(index_path)
    fs = root.getFileSystem(hconf)

    def _parquets(dir_path):
        return [
            st.getPath()
            for st in fs.listStatus(dir_path)
            if st.getPath().getName().endswith(".parquet")
        ]

    dirs = {}
    for st in fs.listStatus(root):
        name = st.getPath().getName()
        if st.isDirectory() and name.startswith("cell="):
            dirs[name.split("=", 1)[1]] = st.getPath()

    todo = {
        c: (p, _parquets(p))
        for c, p in dirs.items()
        if len(_parquets(p)) >= min_files
    }
    compacted = {}
    for cell, (cell_path, originals) in sorted(todo.items()):
        df = spark.read.parquet(cell_path.toString())
        tmp = HPath(root, f"_compact_tmp_{cell}")
        fs.delete(tmp, True)
        df.coalesce(target_files).write.mode("overwrite").parquet(
            tmp.toString()
        )
        staged = _parquets(tmp)
        # swap order matters: move the compacted files IN first (their
        # part-uuid names cannot collide with the originals), THEN
        # delete the originals — a crash mid-swap leaves transient
        # duplicate rows (cleaned by the next compaction) instead of a
        # window where the cell has NO data
        for p in staged:
            if not fs.rename(p, HPath(cell_path, p.getName())):
                raise IOError(f"rename failed: {p} -> {cell_path}")
        for p in originals:
            # a silently-failed delete would BAKE the duplicate rows
            # into every future read AND into the next compaction
            # (which would faithfully rewrite them) — raise with the
            # exact leftover path so the operator can remove it and
            # re-check, instead of returning success over a corrupt
            # cell. Reads stay safe meanwhile: duplicates, not loss.
            if not fs.delete(p, False):
                raise IOError(
                    f"delete failed: {p} still present — cell={cell} "
                    "serves duplicate rows until that file is removed"
                )
        fs.delete(tmp, True)
        compacted[cell] = len(originals)
    return compacted


def hyperplane_multiprobe_topk(
    corpus: DataFrame,
    queries: DataFrame,
    dim: int,
    num_planes: int = 16,
    rows_per_band: int = 8,
    k: int = 10,
) -> DataFrame:
    """Multi-probe cosine-LSH search (Lv et al. 2007): the corpus is
    indexed ONCE with exact band keys; each query probes its exact
    key in every band PLUS all hamming-1 perturbations of that key —
    recovering most of the recall extra hash tables would buy, at
    the index memory of one table. Candidates dedupe, then exact
    cosine rerank to top-k (deterministic neighbor-id tiebreak,
    self-matches excluded — cosine_topk's contract).

    Scale: the probe expansion is QUERY-side only — the corpus band
    relation stays num_bands rows/vector; queries fan out x
    (1 + rows_per_band) per band and broadcast (they're the small
    side by construction). The candidate join remains bucketed on
    (band_idx, band_val) — O(sum bucket x probes), never all-pairs
    — and the rerank join moves only candidate ids."""
    if num_planes % rows_per_band != 0:
        raise ValueError("rows_per_band must divide num_planes")
    num_bands = num_planes // rows_per_band
    mask = (1 << rows_per_band) - 1

    def _bands(sig_df, out_id, probes):
        flips = [0] + [1 << j for j in range(rows_per_band)] if probes else [0]
        rows = [
            F.struct(
                F.lit(b).alias("band_idx"),
                F.shiftright(F.col("hsig"), b * rows_per_band)
                .bitwiseAND(F.lit(mask))
                .bitwiseXOR(F.lit(f))
                .alias("band_val"),
            )
            for b in range(num_bands)
            for f in flips
        ]
        return sig_df.select(
            F.col("vec_id").alias(out_id), F.explode(F.array(*rows)).alias("_b")
        ).select(
            out_id,
            F.col("_b.band_idx").alias("band_idx"),
            F.col("_b.band_val").alias("band_val"),
        )

    c_bands = _bands(
        hyperplane_signature(corpus, dim, num_planes),
        "neighbor_id",
        probes=False,
    )
    q_bands = _bands(
        hyperplane_signature(queries, dim, num_planes),
        "query_id",
        probes=True,
    )
    cand = (
        c_bands.join(F.broadcast(q_bands), ["band_idx", "band_val"])
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "neighbor_id")
        .distinct()
    )
    c = corpus.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").alias("c_vec"),
        l2_norm(F.col("embedding")).alias("_cn"),
    )
    q = queries.select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_vec"),
        l2_norm(F.col("embedding")).alias("_qn"),
    )
    scored = (
        cand.join(c, "neighbor_id")
        .join(F.broadcast(q), "query_id")
        .select(
            "query_id",
            "neighbor_id",
            (
                _dot(F.col("q_vec"), F.col("c_vec"))
                / (F.col("_qn") * F.col("_cn"))
            ).alias("cos_raw"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_raw").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "query_id",
            "neighbor_id",
            F.round("cos_raw", 6).alias("cosine"),
            "rank",
        )
    )


def kcenter_coreset(corpus: DataFrame, k: int):
    """Greedy k-center coreset selection (Gonzalez 1985; the
    farthest-point diverse-subset pass of embedding-based data
    selection — pick the k most MUTUALLY DISTANT exemplars, a 2-approx
    of the k-center objective): seed with the lowest-id vector, then
    repeatedly take the vector farthest (squared L2) from the chosen
    set, deterministic lowest-id tie-break.

    Scale shape: the chosen set is k vectors — always driver-small —
    so each chosen center folds into the plan as a literal and the
    running min-distance column updates as a NARROW map
    (least(mind, dist-to-new-center)); the only per-iteration action
    is the 1-row argmax (TakeOrdered — a scalar per round, the
    kmeans_refine/BPE pattern). k iterations = k jobs over a column
    whose lineage is k chained least() expressions; persist the
    corpus projection once so the scan never re-runs.

    Returns (step, vec_id, dist_when_chosen), empty for an empty
    corpus — dist is the squared L2 to
    the previously-chosen set at selection time (the coreset radius
    sequence; step 0's is NULL). Raw doubles: both engines fold
    identical arithmetic (the q132 rounding lesson)."""
    if k < 1:
        raise ValueError("k must be >= 1")
    from ulh_etl_spark.operators.fanout import fan_out

    # k argmax jobs run over this persisted projection; conditional
    # fan-out for 1-split inputs (no-op at real scale).
    out_schema = "step int, vec_id long, dist_when_chosen double"
    base = fan_out(
        corpus.select(F.col("vec_id"), F.col("embedding"))
    ).persist()
    try:
        first = base.orderBy("vec_id").limit(1).collect()
        if not first:  # empty corpus: no centers
            return local_frame(base.sparkSession, [], out_schema)
        seed = first[0]
        chosen = [(0, seed["vec_id"], None)]

        def _vec_lit(v):
            return F.expr(
                "array({})".format(
                    ", ".join(f"CAST('{float(x)!r}' AS DOUBLE)" for x in v)
                )
            )

        cur = base.withColumn(
            "_mind", _sq_dist(F.col("embedding"), _vec_lit(seed["embedding"]))
        )
        for step in range(1, k):
            # exclude already-chosen ids (a k-item literal IN-list):
            # duplicate vectors drive every remaining _mind to 0, and
            # without the guard the argmax would re-pick a chosen id
            # once k approaches the number of DISTINCT vectors
            picked = (
                cur.filter(
                    ~F.col("vec_id").isin(*[c[1] for c in chosen])
                )
                .orderBy(F.col("_mind").desc(), F.col("vec_id"))
                .limit(1)
                .collect()
            )
            if not picked:  # corpus exhausted: fewer than k vectors
                break
            nxt = picked[0]
            chosen.append((step, nxt["vec_id"], float(nxt["_mind"])))
            cur = cur.withColumn(
                "_mind",
                F.least(
                    F.col("_mind"),
                    _sq_dist(F.col("embedding"), _vec_lit(nxt["embedding"])),
                ),
            )
        return local_frame(base.sparkSession, chosen, out_schema)
    finally:
        base.unpersist()


def cell_distance_outliers(
    corpus: DataFrame,
    centroids: DataFrame,
    z_threshold: float = 2.0,
    min_cell: int = 5,
) -> DataFrame:
    """Embedding outlier pruning: flag vectors whose squared-L2
    distance to their assigned centroid is a z-score outlier within
    the cell — the cheap mislabeled/garbage-embedding filter run
    before ANN index builds and semantic dedup (a corrupt encoder
    output sits far from every centroid; inside its cell it is the
    distance-distribution tail). Literature shape: the per-cluster
    distance filter of DataComp/SemDeDup-style curation.

    The z-score reuses the q132 flat-baseline discipline: the clamped
    closed-form variance ((sq - s*s/cnt)/(cnt-1), GREATEST 0) and a
    min!=max guard, so a constant-distance cell (duplicated vectors)
    yields NULL z and FALSE flag instead of NaN poison, in BOTH
    engines.

    Scale: the assignment is the ivf_assign narrow map (centroid
    literal, zero shuffles); stats are ONE partial-agged groupBy on
    cell; the join back is cell-keyed (AQE-broadcast at C cells).
    Cells below ``min_cell`` members are never scored (a 2-member
    cell's std is noise, and flagging half of it is not pruning).

    Output: (vec_id, cell, dist, z, is_outlier) — dist/z rounded 6."""
    cell_type = centroids.schema["centroid_id"].dataType.simpleString()
    cells = _centroid_literal(centroids, "centroid_id", "centroid_vec")
    scored = F.transform(
        cells,
        lambda c: F.struct(
            _sq_dist(F.col("embedding"), c["cvec"]).alias("dist"),
            c["cell"].alias("cell"),
        ),
    )
    best = F.array_min(scored)
    assigned = corpus.select(
        F.col("vec_id"),
        best["cell"].cast(cell_type).alias("cell"),
        best["dist"].alias("_d"),
    )
    stats = assigned.groupBy("cell").agg(
        F.count("*").alias("_cnt"),
        F.sum("_d").alias("_s"),
        F.sum(F.col("_d") * F.col("_d")).alias("_sq"),
        F.min("_d").alias("_mn"),
        F.max("_d").alias("_mx"),
    )
    cnt = F.col("_cnt").cast("double")
    var = F.greatest(
        F.lit(0.0), (F.col("_sq") - F.col("_s") * F.col("_s") / cnt)
    ) / (cnt - F.lit(1.0))
    mean = F.col("_s") / cnt
    scoreable = (
        (F.col("_cnt") >= min_cell)
        & (F.col("_mn") != F.col("_mx"))
        & (var > 0)
    )
    z = F.when(scoreable, (F.col("_d") - mean) / F.sqrt(var))
    return assigned.join(stats, "cell").select(
        "vec_id",
        "cell",
        F.round(F.col("_d"), 6).alias("dist"),
        F.round(z, 6).alias("z"),
        F.coalesce(z > F.lit(z_threshold), F.lit(False)).alias(
            "is_outlier"
        ),
    )


def power_iteration_pca(
    df: DataFrame,
    vec_col: str,
    dim: int,
    rounds: int = 6,
    round_digits: int = 7,
) -> DataFrame:
    """Top principal component of an embedding corpus by power
    iteration — the PCA step in front of OPQ/PQ codebooks and
    whitening (Jegou et al. TPAMI 2011 use it to rotate before
    product quantization), computed WITHOUT materializing the
    covariance matrix: each round is one corpus pass evaluating

        w = sum_x (x . v) x  -  N * mu (mu . v)     ( = (X'X - N mu mu') v )
        v' = w / ||w||

    Per round, exactly ONE Spark job: per row the scalar dot
    (x . v) with the iterate folded in as an array literal, then the
    contribution vector x*(x . v) posexplodes and partial-aggregates
    by component — the shuffle is <= dim rows PER TASK (map-side
    combined) at any corpus size, never the N x dim^2 outer-product
    a materialized covariance would need. The centering/normalize
    step is driver arithmetic on the collected dim-double sum vector
    — a model relation by the same policy that lets centroid sets
    collect (kcenter_coreset's k-jobs shape).

    Plan-shape history (all three variants measured at sf0.1):
    an unbroken lazy chain doubles the plan per round (2^rounds
    corpus aggregates — never finished planning); a localCheckpoint-
    per-round chain fixes growth but pays ~4.3 s/round of sequential
    broadcast + checkpoint driver latency (30 s total); 64 unrolled
    element_at aggregate columns avoid both but cost ~1.3 s/round of
    Catalyst ANALYSIS on the ~8k-node tree rebuilt every round
    (9.2 s). This shape — compact array expressions, dim rows out —
    analyzes in ~0.1 s and runs the 6 rounds in ~3 s. The per-row
    HOF dot is interpreted (the r12 assignment-kernel caveat), but
    it is ONE dot per row, not N x C: linear, parallel, and the
    constant is paid once per round.

    Determinism across engines: every iterate is rounded to
    ``round_digits`` decimals after normalization, so the summation-
    order noise between Spark and the DuckDB oracle (~1e-10
    relative at any corpus size — normalization makes the error
    scale-free) is absorbed and both engines walk bit-identical
    iterates. The driver-side arithmetic is the SAME operation
    sequence as the oracle's staged CTEs (left-to-right dot folds,
    (n*mu)*md association, sqrt, one round per component) — Python,
    JVM and DuckDB all evaluate IEEE-754 doubles, so values are
    bit-identical given bit-identical inputs. v0 = 1/sqrt(dim) *
    ones — fixed, no RNG.

    Output: one row per component — (dim_idx 1-based, loading at
    round_digits precision, var_explained = ||w_last|| / trace
    rounded to 6; trace = sum_i (ss_i - N mu_i^2), both sides of
    the ratio on the same uncentered-scatter scale).
    """
    import math

    from pyspark.storagelevel import StorageLevel

    emb = df.select(F.col(vec_col).alias("_v")).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    track(emb)
    spark = df.sparkSession

    st = (
        emb.select(F.posexplode("_v").alias("_p", "_e"))
        .groupBy("_p")
        .agg(
            F.count("*").cast("double").alias("_n"),
            F.sum(F.col("_e").cast("double")).alias("_sx"),
            F.sum(
                F.col("_e").cast("double") * F.col("_e").cast("double")
            ).alias("_ss"),
        )
        .collect()
    )
    if len(st) != dim:
        raise ValueError(
            f"expected {dim}-dim vectors, found {len(st)} components"
        )
    st.sort(key=lambda r: r["_p"])
    # Ragged guard: a vector SHORTER than dim posexplodes to fewer
    # rows for its missing high components, so per-component counts
    # diverge and mu/ss silently skew (n is taken from component 0).
    # Equal counts across all dim components proves every row carried
    # a full dim-length vector.
    cmin = min(r["_n"] for r in st)
    cmax = max(r["_n"] for r in st)
    if cmin != cmax:
        raise ValueError(
            f"ragged vectors: per-component counts range "
            f"{cmin:.0f}..{cmax:.0f}; every row must carry a full "
            f"{dim}-dim vector"
        )
    n = st[0]["_n"]
    mu = [r["_sx"] / n for r in st]
    ss = [r["_ss"] for r in st]

    v = [1.0 / math.sqrt(dim)] * dim
    lam = 0.0
    for _ in range(rounds):
        varr = F.array(*[F.lit(val) for val in v])
        dot = F.aggregate(
            F.zip_with(
                "_v", varr, lambda a, b: a.cast("double") * b
            ),
            F.lit(0.0),
            lambda acc, term: acc + term,
        )
        srows = (
            emb.select(dot.alias("_d"), "_v")
            .select(
                F.posexplode(
                    F.transform(
                        "_v",
                        lambda e: e.cast("double") * F.col("_d"),
                    )
                ).alias("_p", "_c")
            )
            .groupBy("_p")
            .agg(F.sum("_c").alias("_s"))
            .collect()
        )
        srows.sort(key=lambda r: r["_p"])
        md = 0.0
        for i in range(dim):
            md = md + mu[i] * v[i]
        wc = [srows[i]["_s"] - n * mu[i] * md for i in range(dim)]
        nsq = 0.0
        for w in wc:
            nsq = nsq + w * w
        lam = math.sqrt(nsq)
        v = [round(w / lam, round_digits) for w in wc]

    trace = 0.0
    for i in range(dim):
        trace = trace + (ss[i] - n * mu[i] * mu[i])
    var_explained = round(lam / trace, 6)
    return local_frame(
        spark,
        [(i + 1, v[i], var_explained) for i in range(dim)],
        "dim_idx int, loading double, var_explained double",
    )


def _kmpar_candidates(
    df: DataFrame,
    rounds: int,
    oversample: float,
    salt: str,
):
    """Shared k-means|| candidate phase: returns (seeds, wmap) —
    seeds = [(id, vec, round_selected)], wmap = nearest-seed
    weights. Driver-small by construction (expected 1 + l*rounds
    candidates at ANY corpus size — the per-round expected pick
    count is l, independent of N). An empty corpus yields no seeds;
    the rounds stop early once phi == 0 (every point coincides with
    a seed, so no point can be selected)."""
    from pyspark.storagelevel import StorageLevel

    from ulh_etl_spark.operators.fanout import fan_out
    from ulh_etl_spark.operators.text import md5_hash32, md5_hash60

    # Every round's d²-argmin narrow map runs over this persisted
    # relation; a 1-split input would serialize all of them on one
    # core — conditional fan-out (r17 probe: q210 2.21 s -> 1.49 s,
    # q211 2.48 s -> 1.60 s; no-op at real scale).
    emb = fan_out(
        df.select(F.col("vec_id"), F.col("embedding").alias("_v"))
    ).persist(StorageLevel.MEMORY_AND_DISK)
    track(emb)

    first = (
        emb.select(
            "vec_id",
            "_v",
            md5_hash32(
                F.concat(
                    F.lit(f"{salt}_seed_"), F.col("vec_id").cast("string")
                )
            ).alias("_h"),
        )
        .orderBy("_h", "vec_id")
        .limit(1)
        .collect()
    )
    if not first:
        return [], {}
    seeds = [(int(first[0]["vec_id"]), list(first[0]["_v"]), 0)]

    two60 = float(2 ** 60)
    for r in range(1, rounds + 1):
        carr = F.expr(
            _rows_struct_sql(
                [{"cell": s[0], "cvec": s[1]} for s in seeds]
            )
        )
        d2 = F.array_min(
            F.transform(carr, lambda c: _sq_dist(F.col("_v"), c["cvec"]))
        )
        scored = emb.select("vec_id", "_v", d2.alias("_d2")).persist(
            StorageLevel.MEMORY_AND_DISK
        )
        track(scored)
        phi = scored.agg(F.sum("_d2").alias("_phi")).collect()[0]["_phi"]
        if phi == 0:
            # d^2 == 0 everywhere: the threshold l * d^2 / phi would
            # divide by zero (an ANSI error), and no point can be
            # selected in this or any later round
            break
        u = md5_hash60(
            F.concat(
                F.lit(f"{salt}_sel_{r}_"), F.col("vec_id").cast("string")
            )
        ).cast("double") / F.lit(two60)
        picked = (
            scored.filter(
                u < (F.lit(float(oversample)) * F.col("_d2")) / F.lit(float(phi))
            )
            .select("vec_id", "_v")
            .collect()
        )
        for row in sorted(picked, key=lambda x: int(x["vec_id"])):
            seeds.append((int(row["vec_id"]), list(row["_v"]), r))

    warr = F.expr(
        _rows_struct_sql([{"cell": s[0], "cvec": s[1]} for s in seeds])
    )
    best = F.array_min(
        F.transform(
            warr,
            lambda c: F.struct(
                _sq_dist(F.col("_v"), c["cvec"]).alias("dist"),
                c["cell"].alias("cell"),
            ),
        )
    )["cell"]
    wrows = (
        emb.select(best.alias("_sid"))
        .groupBy("_sid")
        .agg(F.count("*").alias("_w"))
        .collect()
    )
    wmap = {int(r["_sid"]): int(r["_w"]) for r in wrows}
    return seeds, wmap


def kmeans_parallel_init(
    df: DataFrame,
    rounds: int = 3,
    oversample: float = 8.0,
    salt: str = "kmpar",
) -> DataFrame:
    """k-means|| initialization (Bahmani et al., VLDB 2012 — the
    scalable k-means++ replacement Spark MLlib itself uses): one
    deterministic first seed, then ``rounds`` passes that each
    select, IN PARALLEL, every point x with probability
    min(1, l * d^2(x, C) / phi(C)) — here derandomized with the
    portable md5 uniform u(x) = md5_60('{salt}_sel_{r}_' + id) / 2^60
    (the hash_split determinism rationale: no RNG state, identical
    in Spark, DuckDB and Python), so the selected set is a FIXED
    function of the corpus and the catalog oracle can replay it.
    k-means++ needs k sequential passes (one new center per pass);
    k-means|| gets an O(log n)-competitive seed set in a CONSTANT
    number of passes by oversampling l candidates per round — the
    difference between k corpus scans and ~3 at 100 TB.

    Per round, exactly ONE corpus job: d^2 to the current seed set
    is an array_min over the seed literal (the ivf_assign zero-
    shuffle narrow map; seeds are driver-small by construction,
    ~1 + l*rounds), phi is the same job's map-side-combined SUM, and
    the selected rows collect (model relation — expected l rows per
    round). The final weight pass is one more narrow-map argmin +
    groupBy (weights feed the driver-side k-means++ reclustering in
    the full algorithm; the weighted candidate set IS this
    operator's output).

    Selection threshold parity: the strict inequality
    u < (l * d^2) / phi compares IEEE doubles computed in identical
    operation order in both engines; phi carries ~1e-12 relative
    summation-order noise, so a row flips only if u lands within
    that band of the threshold — probability ~N * 1e-12, negligible
    at any testable scale (the q63 hash-split argument).

    Output: (seed_id, round_selected 0-based, weight) — weight =
    |{x : nearest(C_final, x) = seed}| with the (dist, seed_id)
    lexicographic tie-break; a seed whose vector duplicates a
    lower-id seed carries weight 0.
    """
    seeds, wmap = _kmpar_candidates(df, rounds, oversample, salt)
    return local_frame(
        df.sparkSession,
        [(sid, rsel, wmap.get(sid, 0)) for sid, _vec, rsel in seeds],
        "seed_id bigint, round_selected int, weight bigint",
    )


def kmeans_parallel_recluster(
    df: DataFrame,
    rounds: int = 3,
    oversample: float = 8.0,
    k: int = 8,
    salt: str = "kmpar",
) -> DataFrame:
    """The second half of k-means|| (Bahmani VLDB 2012 §3.3): the
    oversampled candidate set from :func:`kmeans_parallel_init` is
    reclustered DRIVER-SIDE down to ``k`` final centers by weighted
    greedy selection — first center by md5 pick, each further center
    the not-yet-picked candidate maximizing weight * d^2(c, centers)
    (the deterministic argmax variant of the weighted k-means++
    step; ties to the lower id). The candidate set is driver-small
    (expected 1 + l*rounds at ANY corpus size), so the recluster
    costs zero Spark jobs; the corpus then assigns to the k final
    centers in ONE zero-shuffle narrow-map pass (centers literal,
    (dist, id)-struct argmin) feeding a k-row aggregate.

    This is the full production init pipeline: ~rounds+2 corpus
    passes total, vs k passes for sequential k-means++ — at 100 TB
    and k=1024 that is the whole argument for the algorithm.

    Output: one row per final center — (center_id, pick_order
    0-based, n_assigned, mean_sqdist rounded to 6); empty for an
    empty corpus. Raises if the candidate phase yields fewer than k
    candidates (the oracle unrolls exactly k-1 picks and cannot
    adapt silently).
    """
    out_schema = (
        "center_id bigint, pick_order int, n_assigned bigint, "
        "mean_sqdist double"
    )
    seeds, wmap = _kmpar_candidates(df, rounds, oversample, salt)
    if not seeds:  # empty corpus: no centers
        return local_frame(df.sparkSession, [], out_schema)
    cands = [(sid, vec, wmap.get(sid, 0)) for sid, vec, _r in seeds]
    if len(cands) < k:
        raise ValueError(
            f"k-means|| produced {len(cands)} candidates < k={k}; "
            "raise oversample or rounds"
        )
    first = min(
        cands, key=lambda c: (_py_md5h32(f"{salt}_final_{c[0]}"), c[0])
    )
    centers = [first]
    chosen = {first[0]}
    while len(centers) < k:
        best = None
        for sid, vec, w in cands:
            if sid in chosen:
                continue
            d2 = min(_py_sqdist(vec, cv) for _cid, cv, _w in centers)
            score = w * d2
            if best is None or score > best[0] or (
                score == best[0] and sid < best[1]
            ):
                best = (score, sid, vec, w)
        centers.append((best[1], best[2], best[3]))
        chosen.add(best[1])

    from ulh_etl_spark.operators.fanout import fan_out

    # Final-assignment narrow map: same under-parallel guard as the
    # candidate phase (no-op at real scale).
    emb = fan_out(df.select(F.col("vec_id"), F.col("embedding").alias("_v")))
    carr = F.expr(
        _rows_struct_sql(
            [{"cell": cid, "cvec": cv} for cid, cv, _w in centers]
        )
    )
    best_c = F.array_min(
        F.transform(
            carr,
            lambda c: F.struct(
                _sq_dist(F.col("_v"), c["cvec"]).alias("dist"),
                c["cell"].alias("cell"),
            ),
        )
    )
    agg = (
        emb.select(
            best_c["cell"].alias("_cid"), best_c["dist"].alias("_d2")
        )
        .groupBy("_cid")
        .agg(
            F.count("*").cast("bigint").alias("_n"),
            F.sum("_d2").alias("_sd"),
        )
        .collect()
    )
    amap = {int(r["_cid"]): (int(r["_n"]), float(r["_sd"])) for r in agg}
    rows = []
    for order, (cid, _cv, _w) in enumerate(centers):
        cnt, sd = amap.get(cid, (0, 0.0))
        rows.append(
            (cid, order, cnt, round(sd / cnt, 6) if cnt else 0.0)
        )
    return local_frame(df.sparkSession, rows, out_schema)
