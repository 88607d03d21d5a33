"""Count-min sketch over a token stream (Cormode & Muthukrishnan
2005) — the fixed-memory frequency summary a 100 TB curation run
keeps when the exact term-frequency table itself no longer fits:
depth x width counters answer "how often did token t appear?" with
a one-sided error (never an undercount, overcount <= N / width with
probability 1 - 2^-depth).

The sketch is ONE partial-aggregated groupBy over (row, bucket) —
depth * width counters total (a few KiB) regardless of corpus size —
and estimation is a broadcast join of the candidate tokens against
those counters. Hashes are the repo's portable md5 scheme
(operators.text.md5_hash32) with a per-row seed prefix, so the DuckDB
oracle replays the identical sketch bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ulh_etl_spark.operators.text import md5_hash32


def cms_bucket(token: Column, row: int, width: int) -> Column:
    """Row ``row``'s bucket for a token: md5_hash32 of the seeded
    token, mod width. The seed prefix makes the depth rows
    independent hash functions over the same md5 primitive."""
    return F.pmod(
        md5_hash32(F.concat(F.lit(f"cms{row}_"), token)), F.lit(width)
    )


def cms_counters(
    tokens: DataFrame,
    token_col: str = "token",
    depth: int = 4,
    width: int = 512,
) -> DataFrame:
    """Build the sketch from a one-row-per-occurrence token relation.

    Each occurrence lands in one bucket per row (a ``depth``-element
    explode), then one groupBy over (row, bucket) — map-side partial
    aggregation collapses each task's stream to <= depth * width
    counters before the shuffle, so the exchanged volume is constant
    in the corpus size.

    Output: (row, bucket, cnt), depth * width rows (absent
    combinations are zero and omitted)."""
    if depth < 1 or width < 2:
        raise ValueError("depth must be >= 1 and width >= 2")
    cells = F.array(
        *[
            F.struct(
                F.lit(r).alias("row"),
                cms_bucket(F.col(token_col), r, width).alias("bucket"),
            )
            for r in range(depth)
        ]
    )
    return (
        tokens.select(F.explode(cells).alias("_c"))
        .groupBy(F.col("_c.row").alias("row"), F.col("_c.bucket").alias("bucket"))
        .agg(F.count("*").cast("bigint").alias("cnt"))
    )


def cms_estimates(
    counters: DataFrame,
    candidates: DataFrame,
    token_col: str = "token",
    depth: int = 4,
    width: int = 512,
) -> DataFrame:
    """Point-query the sketch for each candidate token: the estimate
    is the MIN over the depth rows of the candidate's bucket counter.
    The counter relation is depth * width rows — always broadcast —
    so estimation never shuffles the candidate side.

    Probes LEFT-join the counters and absent buckets count as 0
    (true CMS semantics: a bucket no element hashed into has counter
    0, so a never-seen token estimates 0 instead of vanishing or
    inflating the MIN) — the same rows scaffold + coalesce-0 shape
    as ``cms_join_size``.

    Output: (token, cms_estimate)."""
    probes = candidates.select(
        F.col(token_col).alias("token"),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(r).alias("row"),
                        cms_bucket(F.col(token_col), r, width).alias("bucket"),
                    )
                    for r in range(depth)
                ]
            )
        ).alias("_p"),
    ).select("token", F.col("_p.row").alias("row"), F.col("_p.bucket").alias("bucket"))
    return (
        probes.join(F.broadcast(counters), ["row", "bucket"], "left")
        .groupBy("token")
        .agg(
            F.min(F.coalesce(F.col("cnt"), F.lit(0)))
            .cast("bigint")
            .alias("cms_estimate")
        )
    )


def fm_registers(
    df: DataFrame,
    key_col: str,
    n_registers: int = 64,
    group_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Flajolet-Martin / HLL register table for a distinct-count
    sketch: each key hashes once (portable 60-bit md5); the LOW bits
    pick one of ``n_registers`` registers, the REMAINING bits'
    trailing-zero run (+1) is the rho value, and the register keeps
    the MAX rho seen. The register table is the mergeable sketch —
    max-combine register tables from any slicing of the data and the
    estimate is unchanged, the same monoid contract as
    profile.algebraic_state. This is the oracle-checkable companion
    of the opaque-binary HLL++ behind approx_count_distinct (q62):
    every column here is an integer, so a SQL engine replays the
    sketch bit-for-bit.

    One partial-aggregated groupBy: each task combines its stream to
    <= n_registers rows before the shuffle — constant exchange volume
    at any corpus size. The harmonic-mean estimate is driver-side
    arithmetic on n_registers integers (pinned by pytest, not shipped
    as a float column — the register table IS the artifact).

    rho extraction avoids bit-scan builtins neither engine shares:
    lowbit = h & -h isolates the lowest set bit (a power of two),
    and log2 of an exact power of two is exact in ieee754, so
    round(log2(lowbit)) + 1 is integer-exact in both engines.

    Output: (*group_cols, register, max_rho, n_keys) — n_keys = exact
    distinct keys landing in the register (the audit column; at
    100 TB it runs on a sample or is dropped). ``group_cols``
    (explicit names, never positional — the q203 ADVICE rule) yields
    one independent sketch per group: the pre-aggregated cube the
    sliding-window merge reads."""
    if n_registers < 2 or n_registers & (n_registers - 1):
        raise ValueError("n_registers must be a power of two >= 2")
    from ulh_etl_spark.operators.text import md5_hash60

    h = md5_hash60(F.col(key_col).cast("string"))
    # shiftright, NOT `/`: float division of a 60-bit hash rounds
    # away the low bits that carry the trailing-zero run
    rest = F.shiftright(h, n_registers.bit_length() - 1)
    lowbit = rest.bitwiseAND(-rest)
    # all-zero remainder -> rho = (#remaining bits) + 1, HLL convention
    rho_max = 60 - (n_registers.bit_length() - 1) + 1
    rho = F.when(rest == 0, F.lit(rho_max)).otherwise(
        F.round(F.log2(lowbit.cast("double")), 0).cast("int") + F.lit(1)
    )
    keyed = df.select(
        *[F.col(c) for c in group_cols],
        F.pmod(h, F.lit(n_registers)).cast("int").alias("register"),
        rho.alias("_rho"),
        F.col(key_col).alias("_k"),
    )
    return keyed.groupBy(*group_cols, "register").agg(
        F.max("_rho").cast("int").alias("max_rho"),
        F.countDistinct("_k").cast("bigint").alias("n_keys"),
    )


def cms_join_size(
    left: DataFrame,
    right: DataFrame,
    left_key: str,
    right_key: str,
    depth: int = 4,
    width: int = 512,
) -> DataFrame:
    """Join-cardinality estimation from count-min sketches — the
    optimizer statistic that decides whether a join is runnable AT
    ALL before paying for it (a 100 TB self-join whose true output is
    10^15 rows must be caught from sketches, not discovered at
    shuffle time). The CMS inner-product estimate (Cormode &
    Muthukrishnan §4.2): per hash row, sum over buckets of
    cnt_left * cnt_right; take the MIN across rows. One-sided like
    the point query — never an undercount, expected overcount
    <= N_left * N_right / width per row.

    Each side's sketch and its exact audit term both derive from ONE
    persisted per-token count relation (r16 — the old shape scanned
    each side's keys twice, once for ``cms_counters`` and once for
    the exact groupBy, and hashed every OCCURRENCE; weighted counters
    over the distinct-token counts are bit-identical — the bucket sum
    of per-token counts IS the occurrence count — while hashing each
    token once and reading each input once). The estimate touches
    depth x width counter rows total. The exact cardinality (the
    audit column — sum over keys of count_left * count_right) costs a
    per-key count join; at real scale you ship only the sketch term.

    Output: one row (exact_pairs, cms_estimate, overcount) — all
    integers, so the oracle replays the sketch bit-for-bit."""
    from ulh_etl_spark.cache import track

    lk = left.select(F.col(left_key).cast("string").alias("token"))
    rk = right.select(F.col(right_key).cast("string").alias("token"))
    la = track(
        lk.groupBy("token").agg(F.count("*").cast("bigint").alias("_a")).persist()
    )
    rb = track(
        rk.groupBy("token").agg(F.count("*").cast("bigint").alias("_b")).persist()
    )

    def _weighted_counters(counts: DataFrame, wcol: str, out: str) -> DataFrame:
        cells = F.array(
            *[
                F.struct(
                    F.lit(r).alias("row"),
                    cms_bucket(F.col("token"), r, width).alias("bucket"),
                )
                for r in range(depth)
            ]
        )
        return (
            counts.select(F.col(wcol).alias("_w"), F.explode(cells).alias("_c"))
            .groupBy(
                F.col("_c.row").alias("row"), F.col("_c.bucket").alias("bucket")
            )
            .agg(F.sum("_w").cast("bigint").alias(out))
        )

    cl = _weighted_counters(la, "_a", "_cl")
    cr = _weighted_counters(rb, "_b", "_cr")
    # rows scaffold + coalesce-0: a hash row whose sketches share NO
    # bucket has dot = 0 (disjoint key sets) — dropping it from the
    # MIN would report a huge estimate for an empty join, the exact
    # failure this operator exists to catch
    rows = left.sparkSession.range(depth).select(
        F.col("id").cast("int").alias("row")
    )
    dots = (
        cl.join(cr, ["row", "bucket"])
        .groupBy("row")
        .agg(F.sum(F.col("_cl") * F.col("_cr")).alias("_dot"))
    )
    est = (
        rows.join(dots, "row", "left")
        .select(F.coalesce(F.col("_dot"), F.lit(0)).alias("_dot"))
        .agg(F.min("_dot").cast("bigint").alias("cms_estimate"))
    )
    exact = la.join(rb, "token").agg(
        F.coalesce(F.sum(F.col("_a") * F.col("_b")), F.lit(0))
        .cast("bigint")
        .alias("exact_pairs")
    )
    return exact.crossJoin(est).select(
        "exact_pairs",
        "cms_estimate",
        (F.col("cms_estimate") - F.col("exact_pairs"))
        .cast("bigint")
        .alias("overcount"),
    )


def sliding_distinct_windows(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    window_hours: int = 3,
    n_registers: int = 64,
) -> DataFrame:
    """Distinct keys per sliding window from PRE-AGGREGATED hourly
    sketches — the "sketch once, answer every window" pattern: build
    one FM/HLL register cube per hour (constant <= n_registers rows
    per hour regardless of corpus size), then answer every
    ``window_hours``-hour hopping window by MAX-merging the member
    hours' registers. The raw stream is touched ONCE; re-windowing
    (3 h -> 24 h -> 7 d) re-reads only the cube. At 100 TB this is
    the difference between one pass and one pass per window length —
    the register monoid (fm_registers contract) makes the merged
    estimate equal the estimate a from-scratch window scan would
    produce, which is exactly what the oracle twin checks.

    Window set: every window containing at least one observed hour
    (starts h-(W-1) .. h per observed hour h — same rule generates
    the exact audit, so the sets agree by construction).

    Estimate: standard HLL two-branch — linear counting
    m*ln(m/zeros) when zeros > 0 and the raw harmonic estimate
    alpha*m^2/Z is <= 2.5m, else the raw estimate. All constants are
    Python-computed literals shared with the oracle SQL; the
    estimate rounds to 3 (sums of <= n_registers exact powers of two
    — cross-engine noise ~1e-16, absorbed).

    Shuffle budget: hourly cube groupBy (partial-agged, constant
    volume), window merge groupBy over the exploded CUBE (x W rows
    of <= 64/hour — still constant), and the exact-audit
    countDistinct (the only corpus-sized exchange; it is the audit
    column, dropped at scale).

    Output: (window_start, exact_keys, est_keys, registers_hit,
    rel_err) — rel_err = |est-exact|/exact rounded to 6."""
    hours = df.select(
        F.date_trunc("hour", F.col(ts_col)).alias("_hr"),
        F.col(key_col).alias("_k"),
    )
    regs = fm_registers(hours, "_k", n_registers, group_cols=("_hr",))
    per_win, est = sliding_window_estimates(
        regs, window_hours, n_registers
    )
    wins = _window_starts("_hr", window_hours)
    exact = (
        hours.select(wins, "_k")
        .groupBy("window_start")
        .agg(F.countDistinct("_k").cast("bigint").alias("exact_keys"))
    )
    return exact.join(per_win, "window_start").select(
        "window_start",
        "exact_keys",
        est.alias("est_keys"),
        "registers_hit",
        F.round(
            F.abs(est - F.col("exact_keys").cast("double"))
            / F.col("exact_keys").cast("double"),
            6,
        ).alias("rel_err"),
    )


def _window_starts(hr_col: str, window_hours: int):
    """Explode a truncated-hour column to every window start whose
    window contains it (starts h-(W-1) .. h)."""
    return F.explode(
        F.array(
            *[
                F.col(hr_col) - F.expr(f"INTERVAL {i} HOURS")
                for i in range(window_hours)
            ]
        )
    ).alias("window_start")


def sliding_window_estimates(
    regs: DataFrame, window_hours: int, n_registers: int
):
    """Answer every ``window_hours`` hopping window from an hourly
    register cube (``(_hr, register, max_rho)`` — fm_registers with
    group_cols=("_hr",) or any max-merged equivalent): explode each
    hour's registers to its member windows, MAX-merge per (window,
    register), then the standard HLL two-branch estimate. Returns
    (per_window DataFrame with (window_start, _zp, registers_hit),
    est Column) so callers attach their own audit columns. Constant
    input volume: <= n_registers rows per hour regardless of corpus
    size."""
    wins = _window_starts("_hr", window_hours)
    merged = (
        regs.select(wins, "register", "max_rho")
        .groupBy("window_start", "register")
        .agg(F.max("max_rho").alias("max_rho"))
    )
    m = n_registers
    alpha = 0.7213 / (1.0 + 1.079 / m)
    per_win = merged.groupBy("window_start").agg(
        F.sum(F.pow(F.lit(2.0), -F.col("max_rho"))).alias("_zp"),
        F.count("*").cast("int").alias("registers_hit"),
    )
    zeros = F.lit(m) - F.col("registers_hit")
    raw = F.lit(alpha * m * m) / (F.col("_zp") + zeros.cast("double"))
    est = F.round(
        F.when(
            (zeros > 0) & (raw <= F.lit(2.5 * m)),
            F.lit(float(m)) * F.log(F.lit(float(m)) / zeros.cast("double")),
        ).otherwise(raw),
        3,
    )
    return per_win, est


# ------------------------------------------------- quantile sketch


def quantile_sample_registers(
    df: DataFrame,
    value_col: str,
    key_col: str,
    k: int = 256,
) -> DataFrame:
    """Mergeable quantile-sketch register table: the ``k`` rows whose
    portable md5 hash-of-key ranks smallest (ties by key) — a
    bottom-k hash sample (the KMV construction, Bar-Yossef et al.
    2002). The hash rank IS the uniform random order, so this is a
    k-row uniform sample of the stream with NO RNG anywhere — which
    is what makes the register table a sketch a SQL engine replays
    exactly, where KLL's randomized compactor coin-flips could not
    be. Quantile estimates from a k-sample carry the standard
    eps ~ 1/sqrt(k) rank error (pinned by pytest), the same accuracy
    class as a KLL sketch of comparable size.

    Mergeable like the FM registers (q176 pattern): union any
    slicing's register tables and re-take the bottom k — the result
    equals the one-shot sketch over all rows (a row is in the merged
    bottom-k iff its hash rank is globally smallest; slicing
    invariance pinned by pytest). The at-rest table supports
    incremental maintenance: merge each batch's k rows into the
    store, never re-reading history.

    Scale: TakeOrdered (orderBy + limit) — each task keeps its local
    bottom-k, one k-row exchange to the driver-side heap, constant
    memory at any corpus size.

    Output: (h, key, value), k rows."""
    from pyspark.sql.types import NumericType

    from ulh_etl_spark.operators.text import md5_hash32

    # The output key is cast to long for the deterministic (h, key)
    # tie-break and merge invariance; a non-numeric key would cast to
    # NULL silently and break both (r11 ADVICE) — refuse it instead.
    ktype = df.schema[key_col].dataType
    if not isinstance(ktype, NumericType):
        raise TypeError(
            f"quantile_sample_registers requires a numeric key column;"
            f" {key_col!r} is {ktype.simpleString()}"
        )

    h = md5_hash32(
        F.concat(F.lit("qs_"), F.col(key_col).cast("string"))
    )
    return (
        df.select(
            h.alias("h"),
            F.col(key_col).cast("long").alias("key"),
            F.col(value_col).cast("double").alias("value"),
        )
        .orderBy("h", "key")
        .limit(k)
    )


def quantile_sketch_estimates(registers: DataFrame, probs) -> DataFrame:
    """Quantile point queries from the register table: the estimate
    for probability p is the value ranked ceil(p * m) (at least 1)
    among the m register values, ordered (value, key) — exact
    integer rank selection inside the sample, no interpolation, so
    both engines pick the identical row. The registers are k
    driver-small rows; the single-partition rank window is the
    sketch's point-query cost, independent of the corpus.

    Output: (p, estimate) — one row per requested probability."""
    from pyspark.sql import Window

    w = Window.orderBy("value", "key")
    m = registers.agg(F.count("*").cast("long").alias("_m"))
    ranked = registers.select(
        "value", "key", F.row_number().over(w).alias("_r")
    ).crossJoin(F.broadcast(m))
    pl = registers.sparkSession.range(1).select(
        F.explode(
            F.array(*[F.lit(float(p)).cast("double") for p in probs])
        ).alias("p")
    )
    return (
        pl.crossJoin(F.broadcast(ranked))
        .filter(
            F.col("_r")
            == F.greatest(
                F.ceil(F.col("p") * F.col("_m")).cast("long"), F.lit(1)
            )
        )
        .select("p", F.col("value").alias("estimate"))
    )


def group_quantile_registers(
    df: DataFrame,
    value_col: str,
    key_col: str,
    group_col: str,
    k: int = 64,
) -> DataFrame:
    """Per-group quantile-sketch register tables:
    :func:`quantile_sample_registers`' bottom-k KMV construction,
    stratified by ``group_col`` — each group keeps its k rows with
    the smallest portable md5 hash-of-key (ties by key), carrying
    the VALUE so per-group quantiles can be asked of the registers
    (the "token-length p95 per language" shape). Same contracts as
    the global sketch: no RNG anywhere, mergeable per group (union
    two slicings' register tables, re-take each group's bottom k).

    Scale: ONE shuffle on the group key for the rank window; each
    group's window scans its rows once and emits k. The register
    table is |groups| * k rows — the per-group analogue of the
    constant-memory TakeOrdered.

    Output: (group_col, h, key, value), <= k rows per group."""
    from pyspark.sql import Window
    from pyspark.sql.types import NumericType

    from ulh_etl_spark.operators.text import md5_hash32

    ktype = df.schema[key_col].dataType
    if not isinstance(ktype, NumericType):
        raise TypeError(
            f"group_quantile_registers requires a numeric key column;"
            f" {key_col!r} is {ktype.simpleString()}"
        )

    h = md5_hash32(
        F.concat(F.lit("qs_"), F.col(key_col).cast("string"))
    )
    w = Window.partitionBy(group_col).orderBy("h", "key")
    return (
        df.select(
            F.col(group_col),
            h.alias("h"),
            F.col(key_col).cast("long").alias("key"),
            F.col(value_col).cast("double").alias("value"),
        )
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= k)
        .drop("_rn")
    )


def group_quantile_estimates(
    registers: DataFrame, probs, group_col: str | None = None
) -> DataFrame:
    """Per-group quantile point queries from a
    :func:`group_quantile_registers` table: within each group the
    estimate for p is the value ranked ceil(p * m_g) (at least 1)
    among that group's m_g register values, ordered (value, key) —
    :func:`quantile_sketch_estimates`' exact integer rank selection,
    stratified. The rank window and the per-group count share ONE
    shuffle on the group key (same partitioning, no second
    exchange); the probe list is a literal explode.

    ``group_col`` names the grouping column explicitly (r12 ADVICE:
    a caller that re-selected the register columns would otherwise
    silently partition by the wrong one); it defaults to the first
    column only for the canonical untouched register table, and the
    default rejects any frame whose first column is one of the
    register payload columns.

    Output: (group_col, p, estimate) — |groups| x |probs| rows."""
    from pyspark.sql import Window

    gcol = group_col or registers.columns[0]
    if group_col is None and gcol in ("h", "key", "value"):
        raise ValueError(
            "group_quantile_estimates: first column %r looks like a "
            "register payload column — pass group_col explicitly"
            % gcol
        )
    w = Window.partitionBy(gcol).orderBy("value", "key")
    ranked = registers.select(
        F.col(gcol), "value", "key",
        F.row_number().over(w).alias("_r"),
        F.count("*").over(Window.partitionBy(gcol)).alias("_m"),
    )
    pl = F.explode(
        F.array(*[F.lit(float(p)).cast("double") for p in probs])
    )
    return (
        ranked.select(F.col(gcol), "value", "_r", "_m", pl.alias("p"))
        .filter(
            F.col("_r")
            == F.greatest(
                F.ceil(F.col("p") * F.col("_m")).cast("long"), F.lit(1)
            )
        )
        .select(F.col(gcol), "p", F.col("value").alias("estimate"))
    )


def group_bottomk_sample(
    df: DataFrame,
    group_col: str,
    key_col: str,
    k: int = 16,
) -> DataFrame:
    """Fixed-budget per-group uniform sample: each group's k rows
    with the smallest portable md5 rank (ties by key) —
    :func:`quantile_sample_registers`' bottom-k construction,
    stratified. Where q65's rate sample scales each stratum's output
    with its size, this pins EXACTLY k rows per group however skewed
    the group sizes — the eval-set builder's contract ("256 docs per
    language") and, like every bottom-k sketch, mergeable per group
    (union two slicings' samples, re-take the per-group bottom k).

    Scale: ONE shuffle on the group key for the rank window; the
    window scans each group once and emits k rows. For a group count
    small enough to broadcast, the same semantics could run as a
    TakeOrdered per group, but the window form needs no group
    enumeration.

    Output: (group_col, key_col, h, grank), k rows per group."""
    from pyspark.sql import Window

    from ulh_etl_spark.operators.text import md5_hash32

    h = md5_hash32(F.concat(F.lit("gs_"), F.col(key_col).cast("string")))
    w = Window.partitionBy(group_col).orderBy("h", key_col)
    return (
        df.select(
            F.col(group_col),
            F.col(key_col),
            h.alias("h"),
        )
        .withColumn("grank", F.row_number().over(w).cast("int"))
        .filter(F.col("grank") <= k)
    )


def kmv_jaccard_pairs(
    df: DataFrame,
    element_col: str,
    group_col: str,
    k: int = 256,
    audit_mod: int = 1,
    audit_elem_mod: int = 1,
) -> DataFrame:
    """Pairwise Jaccard ESTIMATION between groups from KMV set
    sketches (Beyer et al., SIGMOD 2007 "On synopses for distinct-
    value estimation"): each group keeps only its k smallest element
    hashes (portable md5 rank — the same no-RNG uniform the KMV
    quantile registers use); for a pair (A, B) the estimator takes
    K = the k smallest hashes of the sketch UNION and reports
    |K ∩ sketch(A) ∩ sketch(B)| / |K|. This is how cross-source
    duplication matrices (q98's exact form) stay affordable when
    sources stop fitting a pairwise exact join: per group the sketch
    is k integers, every pairwise estimate touches <= 2k rows, and
    sketches max-union-merge like every register table here.

    Scale: ONE shuffle on the group key builds all sketches (rank
    window over distinct (group, hash)); the pair stage runs on the
    sketch relation only (|groups| x k rows). The exact audit legs
    (distinct-set sizes + pairwise intersections over the FULL
    element sets) are the corpus-scale part — at 100 TB you ship
    only the sketch term; they are what the estimator is audited
    against here.

    Elements are 60-bit md5 hashes of the element strings; the
    exact audit counts distinct HASHES, identical to distinct
    elements up to the ~n^2/2^61 collision rate (the md5_hash60
    width argument). Estimates and exact values round to 6.

    ``audit_mod`` (r14, default 1 = audit everything): the q109
    endpoint-sampling pattern applied to the audit term — a group is
    AUDITED iff md5('kmvaud_' || group) % audit_mod == 0, and the
    exact legs (sizes + full-set intersection) run only over audited
    groups' elements, so the intersection join's Σ df² head shrinks
    ~audit_mod² while the deterministic predicate stays portable to
    the SQL oracle. Estimates still cover EVERY pair;
    exact_jaccard/abs_err are NULL for pairs with an unaudited
    endpoint. The r13 sf1->sf10 probe read exp +0.89 for the full
    audit — entirely the intersection legs; an audit needs the error
    distribution, not every pair (the q109 argument verbatim).

    ``audit_elem_mod`` (r15, default 1 = exact sets): the SAME
    deterministic-sampling idea applied to the audit's ELEMENT axis.
    When > 1, the audit legs run over the 1/audit_elem_mod slice
    ``h % audit_elem_mod == 0`` of each audited group's element-hash
    set, and the audit columns report the EXACT Jaccard OF THE
    SLICED SETS — itself the classic mod-sampling set synopsis, an
    unbiased-by-symmetry yardstick with ~|union|/mod sampled
    elements per pair (tens of thousands here, so its own error is
    an order below the k=256 KMV error it audits). The slice
    predicate is on the md5-derived hash already shared with the
    oracle, so it ports verbatim. With group sampling alone, the
    audited groups' element relation is still a constant FRACTION of
    the corpus — the r14 sf10 probe read exp +0.77, all of it the
    audit legs' shuffles; slicing the element axis shrinks those
    legs by mod while the error distribution the audit exists to
    record is unchanged in expectation.

    Output: (src_a, src_b, est_jaccard, exact_jaccard, abs_err,
    k_eff, audit_elem_mod) for every unordered group pair,
    src_a < src_b; ``audit_elem_mod`` echoes the element-slice
    modulus so the audit columns are self-describing (mod > 1 means
    exact_jaccard is the SLICED sets' Jaccard, not full-set)."""
    from pyspark.sql.window import Window

    from ulh_etl_spark.operators.text import md5_hash60

    # Under-parallel inputs: fan out BEFORE any element explode, in
    # the caller (q213 does) — repartitioning the exploded relation
    # here would shuffle the raw element strings and still leave the
    # explode itself on one task (measured slower at sf0.1).
    # distinct BEFORE hashing: md5 of the raw element explode was 25
    # of q213's 33 s at sf10 (450M hash calls), while the distinct
    # (group, element) relation is ~4M rows on that corpus — dedup
    # first (map-side partial agg either way), hash only survivors,
    # then re-distinct on the hash so the relation is EXACTLY the
    # oracle's distinct-(g, h) even under a 60-bit collision (two
    # elements, one hash -> one row either way).
    el = (
        df.select(
            F.col(group_col).alias("_g"),
            F.col(element_col).cast("string").alias("_e"),
        )
        .distinct()
        .select("_g", md5_hash60(F.col("_e")).alias("_h"))
        .distinct()
        .persist()
    )
    from ulh_etl_spark.cache import track

    track(el)
    w = Window.partitionBy("_g").orderBy("_h")
    sk = (
        el.withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") <= k)
        .select("_g", "_h")
    )
    groups = el.select("_g").distinct()
    pairs = (
        groups.select(F.col("_g").alias("src_a"))
        .crossJoin(groups.select(F.col("_g").alias("src_b")))
        .filter(F.col("src_a") < F.col("src_b"))
    )
    pa = pairs.join(
        sk.select(F.col("_g").alias("src_a"), "_h"), "src_a"
    ).select("src_a", "src_b", "_h", F.lit(1).alias("_ina"), F.lit(0).alias("_inb"))
    pb = pairs.join(
        sk.select(F.col("_g").alias("src_b"), "_h"), "src_b"
    ).select("src_a", "src_b", "_h", F.lit(0).alias("_ina"), F.lit(1).alias("_inb"))
    un = (
        pa.unionByName(pb)
        .groupBy("src_a", "src_b", "_h")
        .agg(F.max("_ina").alias("_ina"), F.max("_inb").alias("_inb"))
    )
    wp = Window.partitionBy("src_a", "src_b").orderBy("_h")
    ranked = un.withColumn("_urk", F.row_number().over(wp))
    est = (
        ranked.filter(F.col("_urk") <= k)
        .groupBy("src_a", "src_b")
        .agg(
            F.count("*").cast("int").alias("k_eff"),
            F.sum(
                (F.col("_ina") * F.col("_inb")).cast("long")
            ).alias("_both"),
        )
        .select(
            "src_a",
            "src_b",
            F.round(
                F.col("_both").cast("double")
                / F.col("k_eff").cast("double"),
                6,
            ).alias("est_jaccard"),
            "k_eff",
        )
    )
    if audit_mod > 1:
        aud = groups.filter(
            F.pmod(
                md5_hash60(
                    F.concat(F.lit("kmvaud_"), F.col("_g").cast("string"))
                ),
                F.lit(audit_mod),
            )
            == 0
        )
        el_aud = el.join(F.broadcast(aud), "_g")
    else:
        el_aud = el
    if audit_elem_mod > 1:
        el_aud = el_aud.filter(
            F.pmod(F.col("_h"), F.lit(audit_elem_mod)) == 0
        )
    sizes = el_aud.groupBy("_g").agg(F.count("*").alias("_n"))
    ia = el_aud.select(F.col("_g").alias("src_a"), "_h")
    ib = el_aud.select(F.col("_g").alias("src_b"), "_h")
    inter = (
        ia.join(ib, "_h")
        .filter(F.col("src_a") < F.col("src_b"))
        .groupBy("src_a", "src_b")
        .agg(F.count("*").alias("_i"))
    )
    exact = (
        pairs.join(
            sizes.select(F.col("_g").alias("src_a"), F.col("_n").alias("_na")),
            "src_a",
        )
        .join(
            sizes.select(F.col("_g").alias("src_b"), F.col("_n").alias("_nb")),
            "src_b",
        )
        .join(inter, ["src_a", "src_b"], "left")
        .select(
            "src_a",
            "src_b",
            F.round(
                F.coalesce(F.col("_i"), F.lit(0)).cast("double")
                / (
                    F.col("_na") + F.col("_nb")
                    - F.coalesce(F.col("_i"), F.lit(0))
                ).cast("double"),
                6,
            ).alias("exact_jaccard"),
        )
    )
    # LEFT: unaudited pairs keep their estimate with NULL audit
    # columns (inner through r13, when everything was audited)
    return est.join(exact, ["src_a", "src_b"], "left").select(
        "src_a",
        "src_b",
        "est_jaccard",
        "exact_jaccard",
        F.round(
            F.abs(F.col("est_jaccard") - F.col("exact_jaccard")), 6
        ).alias("abs_err"),
        "k_eff",
        # self-describing audit semantics (r15 ADVICE): with
        # audit_elem_mod > 1 exact_jaccard/abs_err are the Jaccard of
        # the h % mod == 0 element SLICE (abs_err then conflates KMV
        # estimator error with the yardstick's own sampling noise) —
        # carry the modulus so consumers can't misread sliced audits
        # as full-set error. 1 == exact full-set audit.
        F.lit(audit_elem_mod).cast("int").alias("audit_elem_mod"),
    )


def bloom_difference_matrix(
    df: DataFrame,
    element_col: str,
    group_col: str,
    bits: int = 2016,
) -> DataFrame:
    """Pairwise SOUND set-difference lower bounds between groups from
    constant-size blooms — the deterministic one-sided companion to
    :func:`kmv_jaccard_pairs`' unbiased-but-probabilistic estimates,
    and the screening matrix a cross-source dedup runs BEFORE any
    corpus-scale overlap join: every bit of ``bloom(A) & ~bloom(B)``
    was set by >= 1 element of A and by NO element of B, so
    ``popcount(bloom(A) & ~bloom(B)) <= |A \\ B|`` UNCONDITIONALLY
    (collisions only merge A-bits, shrinking the count — same bound
    the r14 q206 pre-verification rests on). From the two difference
    bounds and the exact set sizes follows a sound Jaccard UPPER
    bound: J <= ub/(|A|+|B|-ub) with ub = min(|A|-lbAB, |B|-lbBA).
    A pair whose jaccard_ub is tiny PROVABLY cannot be near-dup —
    no estimator error bar to argue about.

    Layout: blooms are (group, word, bits) relations packed 63 bits
    per word — bit 63 never used, because the SQL twin's
    ``1 << 63`` overflows a signed BIGINT in DuckDB while Spark
    wraps; 63-bit words keep every mask positive and the arithmetic
    portable. Words are densified 0..W-1 (an absent word means
    bits=0, which the pair join must SEE — a word present only in A
    is pure difference evidence).

    Scale: one shuffle on the group key builds all blooms
    (|groups| x W rows total, W = ceil(bits/63)); the pair stage
    joins the densified blooms on the word index — |pairs| x W rows,
    constant per pair, independent of corpus size. Elements hash
    through portable md5_hash60 (the bloom CONTENT is the output, so
    the two-hash policy requires the portable hash).

    Output: (src_a, src_b, n_a, n_b, diff_ab_lb, diff_ba_lb,
    jaccard_ub) for every unordered pair, src_a < src_b."""
    from ulh_etl_spark.cache import track
    from ulh_etl_spark.operators.text import md5_hash60

    # Under-parallel inputs: fan out in the caller, before the
    # element explode (see kmv_jaccard_pairs note).
    nwords = (bits + 62) // 63
    # distinct BEFORE hashing: md5 of the raw element explode was 25
    # of q213's 33 s at sf10 (450M hash calls), while the distinct
    # (group, element) relation is ~4M rows on that corpus — dedup
    # first (map-side partial agg either way), hash only survivors,
    # then re-distinct on the hash so the relation is EXACTLY the
    # oracle's distinct-(g, h) even under a 60-bit collision (two
    # elements, one hash -> one row either way).
    el = (
        df.select(
            F.col(group_col).alias("_g"),
            F.col(element_col).cast("string").alias("_e"),
        )
        .distinct()
        .select("_g", md5_hash60(F.col("_e")).alias("_h"))
        .distinct()
        .persist()
    )
    track(el)
    packed = (
        el.select(
            "_g", F.pmod(F.col("_h"), F.lit(bits)).cast("int").alias("_i")
        )
        .select(
            "_g",
            (F.col("_i") / F.lit(63)).cast("int").alias("_w"),
            F.expr("shiftleft(CAST(1 AS BIGINT), _i % 63)").alias("_m"),
        )
        .groupBy("_g", "_w")
        .agg(F.expr("bit_or(_m)").alias("_bits"))
    )
    groups = el.select("_g").distinct()
    dense = (
        groups.crossJoin(
            F.broadcast(
                df.sparkSession.range(nwords).select(
                    F.col("id").cast("int").alias("_w")
                )
            )
        )
        .join(packed, ["_g", "_w"], "left")
        .select(
            "_g", "_w", F.coalesce("_bits", F.lit(0).cast("long")).alias("_bits")
        )
    )
    sizes = el.groupBy("_g").agg(F.count("*").alias("_n"))
    a = dense.select(
        F.col("_g").alias("src_a"), "_w", F.col("_bits").alias("_ba")
    )
    b = dense.select(
        F.col("_g").alias("src_b"), "_w", F.col("_bits").alias("_bb")
    )
    notb = F.col("_bb").bitwiseXOR(F.lit(-1).cast("long"))
    nota = F.col("_ba").bitwiseXOR(F.lit(-1).cast("long"))
    diffs = (
        a.join(b, "_w")
        .filter(F.col("src_a") < F.col("src_b"))
        .groupBy("src_a", "src_b")
        .agg(
            F.sum(F.bit_count(F.col("_ba").bitwiseAND(notb)))
            .cast("long")
            .alias("diff_ab_lb"),
            F.sum(F.bit_count(F.col("_bb").bitwiseAND(nota)))
            .cast("long")
            .alias("diff_ba_lb"),
        )
    )
    ub = F.least(
        F.col("n_a") - F.col("diff_ab_lb"), F.col("n_b") - F.col("diff_ba_lb")
    )
    return (
        diffs.join(
            sizes.select(F.col("_g").alias("src_a"), F.col("_n").alias("n_a")),
            "src_a",
        )
        .join(
            sizes.select(F.col("_g").alias("src_b"), F.col("_n").alias("n_b")),
            "src_b",
        )
        .select(
            "src_a",
            "src_b",
            F.col("n_a").cast("bigint").alias("n_a"),
            F.col("n_b").cast("bigint").alias("n_b"),
            "diff_ab_lb",
            "diff_ba_lb",
            F.round(
                ub.cast("double")
                / (F.col("n_a") + F.col("n_b") - ub).cast("double"),
                6,
            ).alias("jaccard_ub"),
        )
    )


def priority_sample_sums(
    df: DataFrame,
    weight_col: str,
    id_col: str,
    group_col: str,
    k: int = 512,
) -> DataFrame:
    """Subset-sum estimation from ONE fixed-size priority sample
    (Duffield, Lund & Thorup, JACM 2007): every row gets priority
    q_i = w_i / u_i with the portable md5 uniform u_i; keep the k
    highest-priority rows and the (k+1)-th priority as the threshold
    tau; ANY subset's weight sum is then estimated by
    sum(max(w_i, tau)) over its sampled members — unbiased, with
    variance optimal up to a factor among all k-sample schemes. The
    "sample once, answer every group-sum query" pattern: the sample
    is drawn GLOBALLY, yet per-group totals (and any other predicate
    subset) read off the same k rows. Derandomized uniforms make the
    sample a fixed function of the corpus, so the oracle replays it.

    Scale: the top-(k+1) is TakeOrdered (per-task partial top-k, no
    global sort or exchange of the corpus — the
    quantile_sample_registers argument); everything after runs on
    <= k+1 rows. The exact per-group totals are the audit legs. When
    the corpus has <= k rows tau = 0 and the estimator is exact by
    construction.

    Weights must be positive (priorities w/u need w > 0; enforced).

    Output: (group, est_total, exact_total, rel_err, n_sampled) —
    totals rounded to 2 (sums of <= k doubles; order noise ~1e-10),
    rel_err to 6."""
    from pyspark.sql.window import Window

    from ulh_etl_spark.operators.text import md5_hash60

    two60 = float(2 ** 60)
    u = (
        md5_hash60(
            F.concat(F.lit("psamp_"), F.col(id_col).cast("string"))
        ).cast("double")
        + F.lit(1.0)
    ) / F.lit(two60)
    w = F.col(weight_col).cast("double")
    rows = df.select(
        F.col(id_col).alias("_id"),
        F.col(group_col).alias("_grp"),
        w.alias("_w"),
        (w / u).alias("_q"),
    ).filter(F.col("_w") > 0)
    top = (
        rows.orderBy(F.col("_q").desc(), F.col("_id"))
        .limit(k + 1)
        .persist()
    )
    from ulh_etl_spark.cache import track

    track(top)
    win = Window.orderBy(F.col("_q").desc(), F.col("_id"))
    ranked = top.withColumn("_rk", F.row_number().over(win))
    tau = ranked.agg(
        F.when(F.count("*") == k + 1, F.min("_q"))
        .otherwise(F.lit(0.0))
        .alias("_tau")
    )
    sample = ranked.filter(F.col("_rk") <= k)
    est = (
        sample.crossJoin(F.broadcast(tau))
        .groupBy("_grp")
        .agg(
            F.sum(F.greatest(F.col("_w"), F.col("_tau"))).alias("_est"),
            F.count("*").cast("int").alias("n_sampled"),
        )
    )
    exact = df.select(
        F.col(group_col).alias("_grp"), w.alias("_w")
    ).filter(F.col("_w") > 0).groupBy("_grp").agg(
        F.sum("_w").alias("_exact")
    )
    return exact.join(est, "_grp", "left").select(
        F.col("_grp").alias(group_col),
        F.round(F.coalesce(F.col("_est"), F.lit(0.0)), 2).alias(
            "est_total"
        ),
        F.round(F.col("_exact"), 2).alias("exact_total"),
        F.round(
            F.abs(
                F.coalesce(F.col("_est"), F.lit(0.0)) - F.col("_exact")
            )
            / F.col("_exact"),
            6,
        ).alias("rel_err"),
        F.coalesce(F.col("n_sampled"), F.lit(0)).alias("n_sampled"),
    )
