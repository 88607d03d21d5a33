"""Model tests for the round-10 graph / sketch / state-merge
operators: each is checked against a hand-computable or numpy-derived
reference on graphs and streams small enough to reason about, plus
the structural invariants that must survive any input (CMS never
undercounts; state merge is slicing-invariant)."""

import math

import pytest
from pyspark.sql import functions as F

from ulh_etl_spark.operators.graph import pagerank, triangle_stats
from ulh_etl_spark.operators.profile import (
    algebraic_state,
    embedding_ks_drift,
    merge_states,
)
from ulh_etl_spark.operators.sketch import cms_counters, cms_estimates


def _edges(spark, pairs):
    return spark.createDataFrame(
        [(int(a), int(b)) for a, b in pairs], "id1 long, id2 long"
    )


# ---------------------------------------------------------------- graph


def _ref_pagerank(pairs, iters=3, d=0.85):
    nodes = sorted({x for p in pairs for x in p})
    nbrs = {v: [] for v in nodes}
    for a, b in pairs:
        nbrs[a].append(b)
        nbrs[b].append(a)
    n = len(nodes)
    r = {v: 1.0 / n for v in nodes}
    for _ in range(iters):
        r = {
            v: (1.0 - d) / n + d * sum(r[u] / len(nbrs[u]) for u in nbrs[v])
            for v in nodes
        }
    return r, {v: len(nbrs[v]) for v in nodes}


def test_pagerank_matches_reference_model(spark):
    # a path 1-2-3-4 plus a triangle 4-5-6: asymmetric degrees, so
    # ranks separate and the dangling-free update is exercised fully
    pairs = [(1, 2), (2, 3), (3, 4), (4, 5), (4, 6), (5, 6)]
    got = {
        r.node: (r.degree, r.pagerank)
        for r in pagerank(_edges(spark, pairs)).collect()
    }
    want_r, want_d = _ref_pagerank(pairs)
    assert set(got) == set(want_r)
    for v in want_r:
        assert got[v][0] == want_d[v]
        assert got[v][1] == pytest.approx(want_r[v], abs=2e-6)


def test_pagerank_mass_conserved_and_uniform_on_regular(spark):
    # a 4-cycle is 2-regular: PageRank must stay exactly uniform
    pairs = [(1, 2), (2, 3), (3, 4), (1, 4)]
    rows = pagerank(_edges(spark, pairs), iterations=5).collect()
    for r in rows:
        assert r.pagerank == pytest.approx(0.25, abs=1e-9)
    assert sum(r.pagerank for r in rows) == pytest.approx(1.0, abs=1e-6)


def test_triangle_stats_hand_graph(spark):
    # K4 minus edge (3,4), plus pendant 5 off node 1:
    # triangles = {1,2,3} and {1,2,4}
    pairs = [(1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (1, 5)]
    got = {
        r.node: (r.degree, r.n_triangles, r.clustering)
        for r in triangle_stats(_edges(spark, pairs)).collect()
    }
    assert got[1] == (4, 2, pytest.approx(2 * 2 / (4 * 3), abs=1e-6))
    assert got[2] == (3, 2, pytest.approx(2 * 2 / (3 * 2), abs=1e-6))
    assert got[3] == (2, 1, pytest.approx(1.0, abs=1e-9))
    assert got[4] == (2, 1, pytest.approx(1.0, abs=1e-9))
    assert got[5] == (1, 0, 0.0)


def test_triangle_stats_counts_each_triangle_once_on_clique(spark):
    # K5: every node sits in C(4,2) = 6 triangles, clustering 1.0
    pairs = [(a, b) for a in range(1, 6) for b in range(a + 1, 6)]
    rows = triangle_stats(_edges(spark, pairs)).collect()
    assert len(rows) == 5
    for r in rows:
        assert (r.degree, r.n_triangles, r.clustering) == (4, 6, 1.0)


def test_triangle_free_graph_has_zero_everywhere(spark):
    # bipartite 4-cycle: no triangles despite every node in a cycle
    rows = triangle_stats(
        _edges(spark, [(1, 2), (2, 3), (3, 4), (1, 4)])
    ).collect()
    assert all(r.n_triangles == 0 and r.clustering == 0.0 for r in rows)


# --------------------------------------------------------------- sketch


def _tokens(spark, counts):
    rows = [(t,) for t, c in counts.items() for _ in range(c)]
    return spark.createDataFrame(rows, "token string")


def test_cms_never_undercounts_and_is_exact_when_wide(spark):
    counts = {f"tok{i}": (i % 7) + 1 for i in range(50)}
    toks = _tokens(spark, counts)
    counters = cms_counters(toks, depth=4, width=4096)
    cand = spark.createDataFrame([(t,) for t in counts], "token string")
    est = {
        r.token: r.cms_estimate
        for r in cms_estimates(counters, cand, depth=4, width=4096).collect()
    }
    # one-sided error always; 50 tokens into 4096 buckets x 4 rows
    # makes a same-bucket collision in ALL rows vanishingly unlikely
    assert all(est[t] >= c for t, c in counts.items())
    assert est == {t: c for t, c in counts.items()}


def test_cms_narrow_sketch_overcounts_only(spark):
    counts = {f"w{i}": 3 for i in range(40)}
    toks = _tokens(spark, counts)
    counters = cms_counters(toks, depth=2, width=8)
    cand = spark.createDataFrame([(t,) for t in counts], "token string")
    est = cms_estimates(counters, cand, depth=2, width=8)
    rows = est.collect()
    assert all(r.cms_estimate >= 3 for r in rows)  # never under
    total = sum(r.cnt for r in counters.collect())
    assert total == 2 * 120  # every occurrence lands in every row


def test_cms_counter_relation_is_bounded(spark):
    toks = _tokens(spark, {f"t{i}": 5 for i in range(200)})
    counters = cms_counters(toks, depth=3, width=16)
    assert counters.count() <= 3 * 16


# ----------------------------------------------------------- state merge


def test_merge_states_equals_direct_scan(spark):
    import numpy as np

    rng = np.random.default_rng(7)
    vals = rng.normal(50.0, 12.0, size=300)
    rows = [
        (int(i), ["a", "b", "c"][i % 3], float(v)) for i, v in enumerate(vals)
    ]
    df = spark.createDataFrame(rows, "rid long, grp string, value double")
    slices = [
        algebraic_state(df.filter(F.col("rid") % 3 == k), ["grp"], "value")
        for k in range(3)
    ]
    got = {r.grp: r for r in merge_states(slices, ["grp"]).collect()}
    for g in ("a", "b", "c"):
        sel = [v for i, v in enumerate(vals) if ["a", "b", "c"][i % 3] == g]
        assert got[g].cnt == len(sel)
        assert got[g].avg_value == pytest.approx(
            sum(sel) / len(sel), abs=1e-5
        )
        mean = sum(sel) / len(sel)
        std = math.sqrt(sum((x - mean) ** 2 for x in sel) / (len(sel) - 1))
        assert got[g].std_value == pytest.approx(std, abs=1e-4)
        assert got[g].min_value == pytest.approx(min(sel), abs=1e-6)
        assert got[g].max_value == pytest.approx(max(sel), abs=1e-6)


def test_merge_states_is_slicing_invariant(spark):
    rows = [(int(i), "g", float(i * i % 97)) for i in range(100)]
    df = spark.createDataFrame(rows, "rid long, grp string, value double")
    one = merge_states([algebraic_state(df, ["grp"], "value")], ["grp"])
    two = merge_states(
        [
            algebraic_state(df.filter(F.col("rid") < 37), ["grp"], "value"),
            algebraic_state(df.filter(F.col("rid") >= 37), ["grp"], "value"),
        ],
        ["grp"],
    )
    assert one.collect() == two.collect()


def test_merge_states_constant_group_has_zero_std(spark):
    # the catastrophic-cancellation clamp: a large-magnitude constant
    # group must give std exactly 0.0, never NaN or a sqrt error
    rows = [(i, "k", 1.0e15 + 0.1) for i in range(10)]
    df = spark.createDataFrame(rows, "rid long, grp string, value double")
    out = merge_states(
        [algebraic_state(df, ["grp"], "value")], ["grp"]
    ).collect()[0]
    assert out.std_value == 0.0 and not math.isnan(out.std_value)


def test_merge_states_single_row_group_has_null_std(spark):
    df = spark.createDataFrame([(1, "k", 5.0)], "rid long, grp string, value double")
    out = merge_states(
        [algebraic_state(df, ["grp"], "value")], ["grp"]
    ).collect()[0]
    assert out.cnt == 1 and out.std_value is None


# ------------------------------------------------------------------- KS


def _emb(spark, rows):
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def test_ks_zero_on_identical_samples(spark):
    rows = [(i, [float(i % 10)]) for i in range(40)]
    ref = _emb(spark, rows)
    out = embedding_ks_drift(ref, ref, dims=1).collect()[0]
    assert out.ks == 0.0 and out.n_ref == 40 and out.n_cur == 40


def test_ks_one_on_disjoint_supports(spark):
    ref = _emb(spark, [(i, [float(i)]) for i in range(10)])
    cur = _emb(spark, [(i, [float(i + 100)]) for i in range(10)])
    assert embedding_ks_drift(ref, cur, dims=1).collect()[0].ks == 1.0


def test_ks_matches_hand_ecdf(spark):
    # ref {0,1,2,3}, cur {2,3,4,5}: max |F_r - F_c| is at x in [1,2):
    # F_r = 0.5, F_c = 0 -> 0.5
    ref = _emb(spark, [(i, [float(v)]) for i, v in enumerate([0, 1, 2, 3])])
    cur = _emb(spark, [(i, [float(v)]) for i, v in enumerate([2, 3, 4, 5])])
    assert embedding_ks_drift(ref, cur, dims=1).collect()[0].ks == pytest.approx(
        0.5, abs=1e-9
    )


# ------------------------------------------------------- label propagation


def test_label_propagation_hand_graph(spark):
    # path 1-2-3-4-5 with seeds at the ends: 1 -> label 10, 5 -> 20.
    # round 1: 2<-10, 4<-20, 3 unreached; round 2: 3 sees {10, 20}
    # (from 2 and 4, synchronous) -> tie -> min label 10.
    edges = _edges(spark, [(1, 2), (2, 3), (3, 4), (4, 5)])
    seeds = spark.createDataFrame([(1, 10), (5, 20)], "node long, label int")
    from ulh_etl_spark.operators.graph import label_propagation

    got = {
        r.node: (r.label, r.is_seed)
        for r in label_propagation(edges, seeds, rounds=2).collect()
    }
    assert got == {
        1: (10, True),
        2: (10, False),
        3: (10, False),
        4: (20, False),
        5: (20, True),
    }


def test_label_propagation_seeds_never_flip(spark):
    # seed 1 surrounded by opposite-label neighbors keeps its label
    edges = _edges(spark, [(1, 2), (1, 3), (2, 3)])
    seeds = spark.createDataFrame(
        [(1, 7), (2, 9), (3, 9)], "node long, label int"
    )
    from ulh_etl_spark.operators.graph import label_propagation

    got = {
        r.node: r.label
        for r in label_propagation(edges, seeds, rounds=3).collect()
    }
    assert got == {1: 7, 2: 9, 3: 9}


def test_label_propagation_unreached_stays_null(spark):
    edges = _edges(spark, [(1, 2), (3, 4)])
    seeds = spark.createDataFrame([(1, 5)], "node long, label int")
    from ulh_etl_spark.operators.graph import label_propagation

    got = {
        r.node: r.label
        for r in label_propagation(edges, seeds, rounds=2).collect()
    }
    assert got[1] == 5 and got[2] == 5
    assert got[3] is None and got[4] is None


# ---------------------------------------------------------- FM registers


def test_fm_registers_estimate_within_bound(spark):
    from ulh_etl_spark.operators.sketch import fm_registers

    n_true = 5000
    rows = [(f"user{i}",) for i in range(n_true) for _ in (0, 1)]  # dup rows
    df = spark.createDataFrame(rows, "uid string")
    regs = fm_registers(df, "uid", n_registers=64).collect()
    assert sum(r.n_keys for r in regs) == n_true  # audit column exact
    # HLL harmonic estimate from the register table
    m = 64
    by_reg = {r.register: r.max_rho for r in regs}
    z = sum(2.0 ** -by_reg.get(j, 0) for j in range(m))
    est = 0.709 * m * m / z
    assert abs(est - n_true) / n_true < 0.15


def test_fm_registers_merge_by_max_is_exact(spark):
    from pyspark.sql import functions as SF

    from ulh_etl_spark.operators.sketch import fm_registers

    rows = [(f"k{i}",) for i in range(2000)]
    df = spark.createDataFrame(rows, "uid string")
    whole = {
        r.register: r.max_rho
        for r in fm_registers(df, "uid", n_registers=32).collect()
    }
    h = SF.abs(SF.xxhash64("uid")) % 2
    part0 = fm_registers(df.filter(h == 0), "uid", n_registers=32).collect()
    part1 = fm_registers(df.filter(h == 1), "uid", n_registers=32).collect()
    merged = {}
    for r in list(part0) + list(part1):
        merged[r.register] = max(merged.get(r.register, 0), r.max_rho)
    assert merged == whole


# ------------------------------------------------------- cell outliers


def test_cell_distance_outliers_flags_the_far_point(spark):
    from ulh_etl_spark.operators.similarity import cell_distance_outliers

    # one cell (single centroid): 7 points near origin, 1 far out
    near = [(i, [0.1 * (i % 3), 0.1]) for i in range(1, 8)]
    rows = [(0, [0.0, 0.0])] + near + [(99, [50.0, 50.0])]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    cents = emb.filter("vec_id = 0").selectExpr(
        "vec_id AS centroid_id", "embedding AS centroid_vec"
    )
    out = {r.vec_id: r for r in cell_distance_outliers(emb, cents).collect()}
    assert out[99].is_outlier
    assert not any(out[i].is_outlier for i in range(8))
    assert out[99].z is not None and out[99].z > 2.0


def test_cell_distance_outliers_constant_cell_is_safe(spark):
    from ulh_etl_spark.operators.similarity import cell_distance_outliers

    # every member identical -> min==max guard: NULL z, no flag, no NaN
    rows = [(i, [1.0, 1.0]) for i in range(1, 8)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    cents = emb.limit(1).selectExpr(
        "vec_id AS centroid_id", "array(0.0, 0.0) AS centroid_vec"
    )
    for r in cell_distance_outliers(emb, cents).collect():
        assert r.z is None and r.is_outlier is False


def test_cell_distance_outliers_small_cell_never_scored(spark):
    from ulh_etl_spark.operators.similarity import cell_distance_outliers

    rows = [(0, [0.0]), (1, [1.0]), (2, [9.0])]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    cents = emb.filter("vec_id = 0").selectExpr(
        "vec_id AS centroid_id", "embedding AS centroid_vec"
    )
    out = cell_distance_outliers(emb, cents, min_cell=5).collect()
    assert all(r.z is None and not r.is_outlier for r in out)


# ------------------------------------------------------- join-size sketch


def test_cms_join_size_never_undercounts(spark):
    from ulh_etl_spark.operators.sketch import cms_join_size

    left = spark.createDataFrame(
        [(i % 20,) for i in range(200)], "k long"
    )
    right = spark.createDataFrame(
        [(i % 30,) for i in range(300)], "k long"
    )
    row = cms_join_size(left, right, "k", "k", depth=4, width=256).collect()[0]
    # exact: keys 0..19 each 10x left; right keys 0..29 each 10x ->
    # shared keys 0..19 -> 20 * 10 * 10 = 2000
    assert row.exact_pairs == 2000
    assert row.cms_estimate >= row.exact_pairs
    assert row.overcount == row.cms_estimate - row.exact_pairs


def test_cms_join_size_disjoint_keys_is_zero(spark):
    from ulh_etl_spark.operators.sketch import cms_join_size

    left = spark.createDataFrame([(i,) for i in range(50)], "k long")
    right = spark.createDataFrame(
        [(i + 1000,) for i in range(50)], "k long"
    )
    # width 4 guarantees bucket collisions, so only the zero-overlap
    # row-scaffold path can report the truth here
    row = cms_join_size(left, right, "k", "k", depth=6, width=4).collect()[0]
    assert row.exact_pairs == 0
    # with 6 independent rows over width 4, at least one row having
    # zero shared buckets is not guaranteed — but the estimate must
    # still never be negative and never undercount
    assert row.cms_estimate >= 0


def test_cms_join_size_exact_when_wide(spark):
    from ulh_etl_spark.operators.sketch import cms_join_size

    left = spark.createDataFrame([(i,) for i in range(40)], "k long")
    right = spark.createDataFrame(
        [(i,) for i in range(20) for _ in range(3)], "k long"
    )
    row = cms_join_size(
        left, right, "k", "k", depth=4, width=8192
    ).collect()[0]
    assert row.exact_pairs == 60
    assert row.cms_estimate == 60  # no collisions at this width


def test_cms_join_size_weighted_counters_match_occurrence_sketch(spark):
    """r16 pin: the join-size sketch now builds each side's counters
    from the distinct-token count relation (one scan, one hash per
    token) — the bucket sums must be bit-identical to the raw
    per-occurrence ``cms_counters`` sketch, so the min-dot estimate
    is unchanged on duplicate-heavy input."""
    from ulh_etl_spark.operators.sketch import cms_join_size

    lrows = [(i % 7,) for i in range(91)]  # skewed duplicate counts
    rrows = [(i % 11,) for i in range(55)]
    left = spark.createDataFrame(lrows, "k long")
    right = spark.createDataFrame(rrows, "k long")
    depth, width = 4, 16  # narrow: force collisions into the dot

    lc = cms_counters(
        left.select(left.k.cast("string").alias("token")), depth=depth, width=width
    ).collect()
    rc = cms_counters(
        right.select(right.k.cast("string").alias("token")), depth=depth, width=width
    ).collect()
    lmap = {(r.row, r.bucket): r.cnt for r in lc}
    rmap = {(r.row, r.bucket): r.cnt for r in rc}
    expected = min(
        sum(
            lmap.get((d, b), 0) * rmap.get((d, b), 0) for b in range(width)
        )
        for d in range(depth)
    )

    row = cms_join_size(
        left, right, "k", "k", depth=depth, width=width
    ).collect()[0]
    assert row.cms_estimate == expected
    # 7 shared keys, 13 left occurrences x 5 right occurrences each
    assert row.exact_pairs == 7 * 13 * 5


def test_cms_estimates_absent_token_reports_zero(spark):
    """r10 ADVICE pin: a candidate token with an untouched bucket in
    any row estimates 0 via left-join + coalesce — never dropped from
    the output, never inflated by the inner-join MIN."""
    toks = _tokens(spark, {"present": 7})
    counters = cms_counters(toks, depth=4, width=4096)
    cand = spark.createDataFrame([("present",), ("ghost",)], "token string")
    est = {
        r.token: r.cms_estimate
        for r in cms_estimates(counters, cand, depth=4, width=4096).collect()
    }
    assert est == {"present": 7, "ghost": 0}


# ------------------------------------------------- quantile sketch


def test_quantile_registers_merge_is_slicing_invariant(spark):
    """The bottom-k register table is a mergeable sketch: union any
    slicing's register tables and re-take the bottom k == the
    one-shot sketch over all rows (the FM max-merge contract, in
    min-rank form)."""
    from ulh_etl_spark.operators.sketch import quantile_sample_registers

    rows = [(i, float((i * 37) % 1000)) for i in range(2000)]
    df = spark.createDataFrame(rows, "event_id long, value double")
    whole = quantile_sample_registers(df, "value", "event_id", k=64)
    s1 = quantile_sample_registers(
        df.filter(F.col("event_id") % 2 == 0), "value", "event_id", k=64
    )
    s2 = quantile_sample_registers(
        df.filter(F.col("event_id") % 2 == 1), "value", "event_id", k=64
    )
    merged = (
        s1.unionByName(s2).orderBy("h", "key").limit(64)
    )
    key = lambda d: sorted(  # noqa: E731
        (r.h, r.key, r.value) for r in d.collect()
    )
    assert key(merged) == key(whole)


def test_quantile_registers_reject_non_numeric_key(spark):
    """r11 ADVICE pin: a non-numeric key would silently cast to NULL
    and break the (h, key) tie-break / merge invariance — the
    operator refuses it up front."""
    import pytest

    from ulh_etl_spark.operators.sketch import quantile_sample_registers

    df = spark.createDataFrame(
        [("a", 1.0), ("b", 2.0)], "name string, value double"
    )
    with pytest.raises(TypeError, match="numeric key column"):
        quantile_sample_registers(df, "value", "name", k=8)


def test_quantile_estimates_within_rank_bound(spark):
    """Estimates from a k=256 sample: true CDF of each estimate
    within 3/sqrt(k) of the requested p, and the estimate is an
    actual data value (no interpolation)."""
    from ulh_etl_spark.operators.sketch import (
        quantile_sample_registers,
        quantile_sketch_estimates,
    )

    n = 5000
    rows = [(i, float((i * 997) % 10007)) for i in range(n)]
    df = spark.createDataFrame(rows, "event_id long, value double")
    reg = quantile_sample_registers(df, "value", "event_id", k=256)
    probs = (0.1, 0.5, 0.9)
    est = {
        r.p: r.estimate
        for r in quantile_sketch_estimates(reg, probs).collect()
    }
    values = sorted(v for _, v in rows)
    bound = 3.0 / (256 ** 0.5)
    for p in probs:
        e = est[p]
        assert e in set(values)
        true_cdf = sum(1 for v in values if v <= e) / n
        assert abs(true_cdf - p) <= bound, (p, true_cdf)


def test_quantile_estimates_exact_when_sample_is_whole(spark):
    """k >= N degenerates to exact quantiles: rank ceil(p * N) of the
    sorted data."""
    from ulh_etl_spark.operators.sketch import (
        quantile_sample_registers,
        quantile_sketch_estimates,
    )

    rows = [(i, float(v)) for i, v in enumerate([5, 1, 9, 3, 7, 2, 8])]
    df = spark.createDataFrame(rows, "event_id long, value double")
    reg = quantile_sample_registers(df, "value", "event_id", k=100)
    est = {
        r.p: r.estimate
        for r in quantile_sketch_estimates(reg, (0.5, 1.0)).collect()
    }
    svals = sorted(v for _, v in rows)  # [1,2,3,5,7,8,9]
    assert est[0.5] == svals[3]  # ceil(0.5*7)=4th -> 5.0
    assert est[1.0] == svals[6]  # max


def test_group_bottomk_sample_fixed_budget_and_mergeable(spark):
    """Exactly min(k, group size) rows per group regardless of skew;
    per-group merge of slicings equals the one-shot sample."""
    from ulh_etl_spark.operators.sketch import group_bottomk_sample

    rows = [(i, "big" if i < 900 else "small") for i in range(1000)]
    df = spark.createDataFrame(rows, "event_id long, event_type string")
    out = group_bottomk_sample(df, "event_type", "event_id", k=8).collect()
    by_grp = {}
    for r in out:
        by_grp.setdefault(r.event_type, []).append((r.h, r.event_id))
    assert len(by_grp["big"]) == 8 and len(by_grp["small"]) == 8

    s1 = group_bottomk_sample(
        df.filter(F.col("event_id") % 2 == 0), "event_type", "event_id", k=8
    )
    s2 = group_bottomk_sample(
        df.filter(F.col("event_id") % 2 == 1), "event_type", "event_id", k=8
    )
    from pyspark.sql import Window

    merged = (
        s1.unionByName(s2)
        .withColumn(
            "r",
            F.row_number().over(
                Window.partitionBy("event_type").orderBy("h", "event_id")
            ),
        )
        .filter(F.col("r") <= 8)
    )
    key = lambda d: sorted(  # noqa: E731
        (r.event_type, r.h, r.event_id) for r in d.collect()
    )
    assert key(merged) == key(
        group_bottomk_sample(df, "event_type", "event_id", k=8)
    )


def test_group_quantile_registers_merge_invariant_per_group(spark):
    """Per-group bottom-k registers are mergeable per group: union
    two slicings, re-take each group's bottom k == one-shot."""
    from pyspark.sql import Window

    from ulh_etl_spark.operators.sketch import group_quantile_registers

    rows = [
        (i, f"g{i % 3}", float((i * 17) % 500)) for i in range(900)
    ]
    df = spark.createDataFrame(rows, "id long, grp string, v double")
    whole = group_quantile_registers(df, "v", "id", "grp", k=16)
    s1 = group_quantile_registers(
        df.filter(F.col("id") % 2 == 0), "v", "id", "grp", k=16
    )
    s2 = group_quantile_registers(
        df.filter(F.col("id") % 2 == 1), "v", "id", "grp", k=16
    )
    w = Window.partitionBy("grp").orderBy("h", "key")
    merged = (
        s1.unionByName(s2)
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= 16)
        .drop("_rn")
    )
    key = lambda d: sorted(  # noqa: E731
        (r.grp, r.h, r.key, r.value) for r in d.collect()
    )
    assert key(merged) == key(whole)


def test_group_quantile_estimates_match_per_group_selection(spark):
    """Each group's estimate is the value at rank ceil(p*m) (>=1)
    among ITS registers ordered (value, key) — groups don't bleed."""
    from ulh_etl_spark.operators.sketch import (
        group_quantile_estimates,
        group_quantile_registers,
    )

    rows = [(i, "a" if i < 400 else "b", float(i)) for i in range(600)]
    df = spark.createDataFrame(rows, "id long, grp string, v double")
    regs = group_quantile_registers(df, "v", "id", "grp", k=32)
    reg_rows = regs.collect()
    est = {
        (r.grp, r.p): r.estimate
        for r in group_quantile_estimates(regs, (0.5, 0.95)).collect()
    }
    import math

    for g in ("a", "b"):
        vals = sorted(
            (r.value, r.key) for r in reg_rows if r.grp == g
        )
        m = len(vals)
        for p in (0.5, 0.95):
            want = vals[max(math.ceil(p * m), 1) - 1][0]
            assert est[(g, p)] == want


def test_group_quantile_registers_reject_non_numeric_key(spark):
    import pytest

    from ulh_etl_spark.operators.sketch import group_quantile_registers

    df = spark.createDataFrame(
        [("x", "a", 1.0)], "name string, grp string, v double"
    )
    with pytest.raises(TypeError, match="numeric key column"):
        group_quantile_registers(df, "v", "name", "grp", k=4)


def test_kcore_peel_triangle_with_tail(spark):
    """Triangle (dense core) + a 3-node tail: k=2 peels the tail one
    node per round and keeps the triangle forever."""
    from ulh_etl_spark.operators.graph import kcore_peel

    # triangle 1-2-3; tail 3-4, 4-5, 5-6
    edges = spark.createDataFrame(
        [(1, 2), (1, 3), (2, 3), (3, 4), (4, 5), (5, 6)],
        "id1 long, id2 long",
    )
    rows = {
        r.round: (r.nodes_remaining, r.edges_remaining)
        for r in kcore_peel(edges, k=2, rounds=3).collect()
    }
    # round 0: the input graph
    assert rows[0] == (6, 6)
    # peel 1: node 6 has deg 1 -> drops, edge 5-6 goes
    assert rows[1] == (5, 5)
    # peel 2: node 5 now deg 1 -> drops, edge 4-5 goes
    assert rows[2] == (4, 4)
    # peel 3: node 4 drops, 3-4 goes; triangle remains
    assert rows[3] == (3, 3)


def test_kcore_peel_converged_rounds_agree(spark):
    """Once the survivor set is a k-core, further rounds are no-ops."""
    from ulh_etl_spark.operators.graph import kcore_peel

    edges = spark.createDataFrame(
        [(1, 2), (1, 3), (2, 3)], "id1 long, id2 long"
    )
    rows = {
        r.round: (r.nodes_remaining, r.edges_remaining)
        for r in kcore_peel(edges, k=2, rounds=2).collect()
    }
    assert rows[0] == rows[1] == rows[2] == (3, 3)


def test_sliding_distinct_windows_exact_and_merge(spark):
    """Window set = every window containing an observed hour; exact
    counts match a hand count; the merged registers equal
    fm_registers run directly on each window's rows (the monoid
    contract along the time axis)."""
    import datetime as dt

    from ulh_etl_spark.operators.sketch import (
        fm_registers,
        sliding_distinct_windows,
    )

    base = dt.datetime(2024, 1, 1, 10, 0, 0)
    rows = [
        # (ts offset hours+minutes, user)
        (0, 0, 1), (0, 30, 2), (1, 0, 2), (1, 15, 3), (4, 0, 9),
    ]
    df = spark.createDataFrame(
        [
            (base + dt.timedelta(hours=h, minutes=m), u)
            for h, m, u in rows
        ],
        "ts timestamp, user_id long",
    )
    out = {
        r.window_start.hour: (r.exact_keys, r.registers_hit, r.est_keys)
        for r in sliding_distinct_windows(
            df, "user_id", "ts", window_hours=3, n_registers=32
        ).collect()
    }
    # observed hours 10, 11, 14 -> window starts 8..11 and 12..14
    assert set(out) == {8, 9, 10, 11, 12, 13, 14}
    assert out[8][0] == 2   # hour 10 only: users {1,2}
    assert out[9][0] == 3   # hours 10-11: users {1,2,3}
    assert out[10][0] == 3
    assert out[11][0] == 2  # window 11 covers hours 11-13: users {2,3}
    assert out[14][0] == 1  # hour 14: {9}

    # merge property: window-9 registers == direct sketch of its rows
    direct = {
        (r.register, r.max_rho)
        for r in fm_registers(
            df.filter(
                (F.col("ts") >= dt.datetime(2024, 1, 1, 9))
                & (F.col("ts") < dt.datetime(2024, 1, 1, 12))
            ),
            "user_id",
            n_registers=32,
        ).collect()
    }
    assert out[9][1] == len(direct)


def test_incremental_cube_equals_oneshot(spark):
    """Max-merge invariance along the batch axis: the incrementally
    maintained hourly register cube (per-batch cubes merged
    sequentially) equals the one-shot cube over all rows — the
    monoid contract q212 relies on."""
    import datetime as dt

    from ulh_etl_spark.operators.sketch import fm_registers

    base = dt.datetime(2024, 3, 1, 8, 0, 0)
    rows = [
        (base + dt.timedelta(hours=i % 5, minutes=i % 50), i % 17, i)
        for i in range(120)
    ]
    df = spark.createDataFrame(
        rows, "ts timestamp, user_id long, event_id long"
    )
    hours = df.select(
        F.date_trunc("hour", F.col("ts")).alias("_hr"),
        F.col("user_id").alias("_k"),
        "event_id",
    )
    oneshot = {
        (r["_hr"], r.register): r.max_rho
        for r in fm_registers(
            hours, "_k", 32, group_cols=("_hr",)
        ).collect()
    }
    store = None
    for b in range(3):
        cube = fm_registers(
            hours.filter(F.col("event_id") % 3 == b),
            "_k",
            32,
            group_cols=("_hr",),
        ).select("_hr", "register", "max_rho")
        store = (
            cube
            if store is None
            else store.unionByName(cube)
            .groupBy("_hr", "register")
            .agg(F.max("max_rho").alias("max_rho"))
        )
    merged = {
        (r["_hr"], r.register): r.max_rho for r in store.collect()
    }
    assert merged == oneshot


def test_kmv_jaccard_exact_when_sets_fit_sketch(spark):
    """Sets smaller than k: the sketch IS the set, so the estimator
    must equal the exact Jaccard; k_eff = |union|."""
    from ulh_etl_spark.operators.sketch import kmv_jaccard_pairs

    rows = (
        [("a", f"e{i}") for i in range(30)]
        + [("b", f"e{i}") for i in range(15, 45)]  # |inter|=15 |union|=45
        + [("c", f"x{i}") for i in range(10)]      # disjoint from a, b
    )
    df = spark.createDataFrame(rows, "g string, e string")
    got = {
        (r.src_a, r.src_b): (r.est_jaccard, r.exact_jaccard, r.k_eff)
        for r in kmv_jaccard_pairs(df, "e", "g", k=256).collect()
    }
    assert got[("a", "b")] == (
        round(15 / 45, 6), round(15 / 45, 6), 45
    )
    assert got[("a", "c")] == (0.0, 0.0, 40)
    assert got[("b", "c")] == (0.0, 0.0, 40)


def test_kmv_jaccard_estimates_within_tolerance_when_sketched(spark):
    """Sets larger than k: the estimate concentrates around the true
    Jaccard (std ~ sqrt(J(1-J)/k) ~ 0.03 at k=256, J=0.5); assert a
    generous 6-sigma band plus k_eff == k."""
    from ulh_etl_spark.operators.sketch import kmv_jaccard_pairs

    n, shared = 2000, 1000  # J = 1000 / 3000
    rows = [("a", f"s{i}") for i in range(n)] + [
        ("b", f"s{i}") for i in range(n - shared, 2 * n - shared)
    ]
    df = spark.createDataFrame(rows, "g string, e string")
    r = kmv_jaccard_pairs(df, "e", "g", k=256).collect()[0]
    true_j = shared / (2 * n - shared)
    assert r.k_eff == 256
    assert r.exact_jaccard == round(true_j, 6)
    assert abs(r.est_jaccard - true_j) < 0.18
    assert r.abs_err == round(abs(r.est_jaccard - r.exact_jaccard), 6)


def test_priority_sample_sums_matches_python_replica(spark):
    """Derandomized priority sampling == the pure-Python replay:
    same priorities, same tau, same per-group estimates; and with
    N <= k the estimator is exact by construction (tau = 0)."""
    import hashlib

    from ulh_etl_spark.operators.sketch import priority_sample_sums

    def u(i):
        return (
            int(hashlib.md5(f"psamp_{i}".encode()).hexdigest()[:15], 16)
            + 1.0
        ) / float(2 ** 60)

    n, k = 40, 8
    rows = [(i, ["a", "b"][i % 2], float(1 + (i * 7) % 23)) for i in range(n)]
    df = spark.createDataFrame(rows, "event_id long, grp string, value double")

    pri = sorted(
        ((w / u(i), i, g, w) for i, g, w in rows), key=lambda x: (-x[0], x[1])
    )
    tau = pri[k][0]
    est = {}
    cnt = {}
    for q, i, g, w in pri[:k]:
        est[g] = est.get(g, 0.0) + max(w, tau)
        cnt[g] = cnt.get(g, 0) + 1
    exact = {}
    for i, g, w in rows:
        exact[g] = exact.get(g, 0.0) + w

    got = {
        r.grp: (r.est_total, r.exact_total, r.n_sampled)
        for r in priority_sample_sums(
            df, "value", "event_id", "grp", k=k
        ).collect()
    }
    for g in ("a", "b"):
        assert got[g] == (
            round(est.get(g, 0.0), 2),
            round(exact[g], 2),
            cnt.get(g, 0),
        )

    # N <= k: tau = 0, estimator exact for every group
    got2 = {
        r.grp: (r.est_total, r.exact_total, r.rel_err)
        for r in priority_sample_sums(
            df, "value", "event_id", "grp", k=64
        ).collect()
    }
    for g in ("a", "b"):
        assert got2[g][0] == got2[g][1] and got2[g][2] == 0.0


# ------------------------------------------------------------- HITS


def _ref_hits(edges, iters):
    nodes = sorted({x for e in edges for x in e})
    h = {v: 1.0 for v in nodes}
    a = {}
    for _ in range(iters):
        a = {}
        for u, v in edges:
            a[v] = a.get(v, 0.0) + h.get(u, 0.0)
        amax = max(a.values())
        a = {v: x / amax for v, x in a.items()}
        h = {}
        for u, v in edges:
            h[u] = h.get(u, 0.0) + a.get(v, 0.0)
        hmax = max(h.values())
        h = {u: x / hmax for u, x in h.items()}
    return {v: (h.get(v, 0.0), a.get(v, 0.0)) for v in nodes}


def test_hits_matches_reference_across_checkpoint_boundary(spark):
    """9 iterations cross the _CKPT_EVERY=4 localCheckpoint twice —
    pins that lineage truncation is numerically invisible and the
    long-iteration path (the header's checkpoint discipline) runs."""
    from ulh_etl_spark.operators.graph import hits

    edges = [(1, 2), (1, 3), (2, 3), (3, 1), (4, 3), (4, 2), (5, 1)]
    df = spark.createDataFrame(
        [(int(a), int(b)) for a, b in edges], "src long, dst long"
    )
    got = {r.node: (r.hub, r.authority)
           for r in hits(df, iterations=9).collect()}
    want = _ref_hits(edges, 9)
    assert set(got) == set(want)
    for v, (wh, wa) in want.items():
        assert got[v][0] == pytest.approx(wh, abs=2e-6), v
        assert got[v][1] == pytest.approx(wa, abs=2e-6), v


def test_hits_empty_edges_empty_out(spark):
    """Empty edge relation -> empty (node, hub, authority) frame
    with the node type carried from the input (r15 ADVICE: the old
    ValueError was a behavior change for empty-in/empty-out
    callers, and it left the probe relation persisted)."""
    from ulh_etl_spark.operators.graph import hits

    empty = spark.createDataFrame([], "src long, dst long")
    out = hits(empty)
    assert out.columns == ["node", "hub", "authority"]
    assert out.schema["node"].dataType.simpleString() == "bigint"
    assert out.count() == 0


def test_kmv_audit_element_slice_matches_python_replica(spark):
    """audit_elem_mod > 1: the audit columns become the exact Jaccard
    of the deterministic h % mod == 0 element slice — replayed here
    with a pure-Python md5 replica; the ESTIMATE column is untouched
    by the slicing (it reads the sketch, not the audit legs)."""
    import hashlib

    from ulh_etl_spark.operators.sketch import kmv_jaccard_pairs

    def h60(e):
        return int(hashlib.md5(e.encode()).hexdigest()[:15], 16)

    mod = 4
    ea = {f"s{i}" for i in range(300)}
    eb = {f"s{i}" for i in range(150, 450)}
    rows = [("a", e) for e in ea] + [("b", e) for e in eb]
    df = spark.createDataFrame(rows, "g string, e string")

    sa = {h60(e) for e in ea if h60(e) % mod == 0}
    sb = {h60(e) for e in eb if h60(e) % mod == 0}
    want = round(len(sa & sb) / len(sa | sb), 6)

    r_full = kmv_jaccard_pairs(df, "e", "g", k=256).collect()[0]
    r_slice = kmv_jaccard_pairs(
        df, "e", "g", k=256, audit_elem_mod=mod
    ).collect()[0]
    assert r_slice.exact_jaccard == want
    assert r_slice.est_jaccard == r_full.est_jaccard  # estimate untouched
    assert r_slice.abs_err == round(
        abs(r_slice.est_jaccard - want), 6
    )
    # the slice modulus rides along so sliced audits are
    # self-describing (r15 ADVICE)
    assert r_slice.audit_elem_mod == mod
    assert r_full.audit_elem_mod == 1


def test_checkpoint_dir_reliable_mode_roundtrips(
    spark, tmp_path, monkeypatch
):
    """VERDICT r16 item 3: with $SPARK_GRAFT_CHECKPOINT_DIR set, the
    graph loops checkpoint reliably and return the exact same rows as
    the local default (the checkpoint choice is a fault-tolerance
    knob, never a semantics knob) — and actually write checkpoint
    files."""
    import os

    edges = _edges(spark, [(1, 2), (2, 3), (3, 4), (1, 3), (2, 4)])
    ck = str(tmp_path / "ck")
    local = sorted(map(tuple, pagerank(edges, iterations=2).collect()))
    monkeypatch.setenv("SPARK_GRAFT_CHECKPOINT_DIR", ck)
    reliable = sorted(map(tuple, pagerank(edges, iterations=2).collect()))
    assert local == reliable
    written = [
        f for _, _, fs in os.walk(ck) for f in fs
    ]
    assert written, "reliable mode must write checkpoint files"


def test_truncate_lineage_env_var_default(spark, tmp_path, monkeypatch):
    """SPARK_GRAFT_CHECKPOINT_DIR switches query-level truncation
    sites (which have no parameter surface) to reliable checkpoints."""
    import os

    from ulh_etl_spark.cache import truncate_lineage

    ck = str(tmp_path / "env_ck")
    monkeypatch.setenv("SPARK_GRAFT_CHECKPOINT_DIR", ck)
    out = truncate_lineage(spark.range(5))
    assert out.count() == 5
    written = [f for _, _, fs in os.walk(ck) for f in fs]
    assert written, "env-configured reliable mode must write files"
