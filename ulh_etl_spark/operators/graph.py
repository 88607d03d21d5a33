"""Graph analytics over an undirected edge relation — the consumers
of the kNN / near-dup graphs the dedup and similarity operators emit
(``similarity.mutual_knn_edges``, ``dedup.lsh_candidate_pairs``):
PageRank picks the representative/central member of a semantic
cluster; triangle counts / clustering coefficients separate genuine
dense paraphrase families from hub-induced star artifacts.

Both take the canonical (id1 < id2) pair relation that every pair
emitter in this repo produces.

Scale notes:
- PageRank is the canonical iterative-Spark shape: per round, ONE
  join of the (persisted) adjacency against the current rank vector
  on ``src`` and one partial-aggregated groupBy on ``dst``. The edge
  relation here is degree-bounded (mutual kNN has deg <= k), so no
  key is hot; on a power-law graph the groupBy side would salt or
  rely on AQE skew splitting exactly like connected_components.
  Fixed iteration counts keep the lineage linear; past ~10 rounds
  checkpoint per round (same rationale as
  dedup.connected_components).
- Triangle counting uses the degree-orientation trick: direct every
  edge from its lower-(degree, id) endpoint to the higher one, so
  each wedge is enumerated at its LOWEST-degree vertex — the
  standard bound (Suri & Vassilvitskii, WWW'11 "Counting triangles
  and the curse of the last reducer") that turns the worst hub's
  O(deg^2) wedge fan-out into O(m^{3/2}) total work. One self-join
  on the wedge pivot + one semi-join back to the edge set.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.storagelevel import StorageLevel

from ulh_etl_spark.cache import track, truncate_lineage
from ulh_etl_spark.session import local_frame


def _undirect(edges: DataFrame, id1: str, id2: str) -> DataFrame:
    """(id1<id2) pair relation -> both-direction (src, dst) adjacency."""
    fwd = edges.select(F.col(id1).alias("src"), F.col(id2).alias("dst"))
    return fwd.union(
        fwd.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )


def pagerank(
    edges: DataFrame,
    iterations: int = 3,
    damping: float = 0.85,
) -> DataFrame:
    """PageRank restricted to the nodes of an undirected edge
    relation. Every endpoint has degree >= 1 by construction, so
    there are no dangling nodes and the per-round update is exactly

        r'(v) = (1 - d)/N + d * sum_{u ~ v} r(u) / deg(u)

    — each float step a fixed single expression except the neighbor
    sum, whose partial order is engine-dependent; callers round at
    output (the catalog convention for float aggregates).

    Output: (node, degree, pagerank) — pagerank rounded to 6.
    """
    if iterations < 1:
        raise ValueError("iterations must be >= 1")
    # Eager checkpoint, not persist (r16, the hits() lesson): the
    # loop re-analyzes adj's upstream plan once per round — for kNN
    # producers that subplan embeds the folded centroid literals and
    # analysis dominates the node-count-sized joins. Local unless
    # $SPARK_GRAFT_CHECKPOINT_DIR is set (cache.truncate_lineage).
    adj = truncate_lineage(_undirect(edges, "id1", "id2"))
    deg = adj.groupBy("src").agg(F.count("*").alias("deg"))
    n = deg.count()
    base = F.lit((1.0 - damping) / n)
    # rank/deg is what every round emits; carry it instead of rank.
    ranks = deg.select(
        "src",
        "deg",
        (F.lit(1.0 / n) / F.col("deg").cast("double")).alias("contrib"),
    )
    for _ in range(iterations):
        gathered = (
            adj.join(ranks, "src")
            .groupBy("dst")
            .agg(F.sum("contrib").alias("gathered"))
        )
        ranks = (
            deg.join(gathered, deg.src == gathered.dst)
            .select(
                "src",
                "deg",
                (
                    (base + F.lit(damping) * F.col("gathered"))
                    / F.col("deg").cast("double")
                ).alias("contrib"),
            )
        )
    return ranks.select(
        F.col("src").alias("node"),
        F.col("deg").cast("bigint").alias("degree"),
        F.round(
            F.col("contrib") * F.col("deg").cast("double"), 6
        ).alias("pagerank"),
    )


def triangle_stats(edges: DataFrame) -> DataFrame:
    """Per-node triangle count and local clustering coefficient over
    an undirected (id1 < id2) edge relation.

    Orientation: each edge points from its lower-(degree, id)
    endpoint to the higher one; wedges are enumerated by self-joining
    the oriented list on its source (the wedge pivot) and closed by
    an inner join back to the oriented edge set. Every triangle is
    found exactly once, pivoted at its minimum-(degree, id) vertex.

    Output: (node, degree, n_triangles, clustering) for every
    endpoint; clustering = 2T / (deg * (deg - 1)), 0.0 when deg < 2,
    rounded to 6 (one fixed-order division — exact cross-engine).
    """
    # Eager checkpoint of the edge projection (r16, the hits()
    # lesson): deg and oriented each re-analyzed the producer's full
    # subplan; one leaf feeds both. Local unless
    # $SPARK_GRAFT_CHECKPOINT_DIR is set.
    e = truncate_lineage(
        edges.select(F.col("id1").alias("_a"), F.col("id2").alias("_b"))
    )
    adj = _undirect(e, "_a", "_b")
    deg = adj.groupBy("src").agg(F.count("*").alias("deg")).select(
        F.col("src").alias("node"), "deg"
    ).persist(StorageLevel.MEMORY_AND_DISK)
    track(deg)

    d1 = deg.select(F.col("node").alias("_a"), F.col("deg").alias("_da"))
    d2 = deg.select(F.col("node").alias("_b"), F.col("deg").alias("_db"))
    lower_first = (F.col("_da") < F.col("_db")) | (
        (F.col("_da") == F.col("_db")) & (F.col("_a") < F.col("_b"))
    )
    oriented = (
        e.join(d1, "_a")
        .join(d2, "_b")
        .select(
            F.when(lower_first, F.col("_a")).otherwise(F.col("_b")).alias("lo"),
            F.when(lower_first, F.col("_b")).otherwise(F.col("_a")).alias("hi"),
        )
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    track(oriented)
    w1 = oriented.select(F.col("lo").alias("pivot"), F.col("hi").alias("u"))
    w2 = oriented.select(F.col("lo").alias("pivot"), F.col("hi").alias("v"))
    wedges = w1.join(w2, "pivot").filter(F.col("u") < F.col("v"))
    # close the wedge: (u, v) must itself be an oriented edge in ONE
    # of the two directions (orientation is by degree, not id)
    closer = oriented.select(
        F.least("lo", "hi").alias("u"), F.greatest("lo", "hi").alias("v")
    )
    tris = wedges.join(closer, ["u", "v"])
    per_node = (
        tris.select(F.col("pivot").alias("node"))
        .union(tris.select(F.col("u").alias("node")))
        .union(tris.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count("*").alias("n_triangles"))
    )
    out = deg.join(per_node, "node", "left").select(
        "node",
        F.col("deg").cast("bigint").alias("degree"),
        F.coalesce(F.col("n_triangles"), F.lit(0))
        .cast("bigint")
        .alias("n_triangles"),
        F.round(
            F.when(F.col("deg") < 2, F.lit(0.0)).otherwise(
                2.0
                * F.coalesce(F.col("n_triangles"), F.lit(0)).cast("double")
                / (
                    F.col("deg").cast("double")
                    * (F.col("deg").cast("double") - 1.0)
                )
            ),
            6,
        ).alias("clustering"),
    )
    return out


def label_propagation(
    edges: DataFrame,
    seeds: DataFrame,
    rounds: int = 2,
) -> DataFrame:
    """Semi-supervised label propagation (Zhu & Ghahramani 2002 shape,
    synchronous updates): seed nodes carry a fixed label; each round,
    every NON-seed node takes the MODE of its neighbors'
    previous-round labels (ties broken by the smaller label — a total
    order, so the fixpoint is deterministic and SQL-replayable).
    Unreached nodes stay NULL. The curation use: spread a small set
    of human topic/quality labels across the mutual-kNN graph to
    pre-label the corpus.

    Per round: ONE join of the adjacency against the previous
    assignment on ``src`` + one (dst, label) count + one rank window
    on dst — all keys degree-bounded on a kNN graph. Synchronous
    rounds (not propagating within a round) keep the result
    order-independent, which is what makes the oracle exact.

    ``seeds``: (node, label). Output: (node, label, is_seed) for
    every edge endpoint; label NULL when no labeled node is within
    ``rounds`` hops."""
    from pyspark.sql import Window

    if rounds < 1:
        raise ValueError("rounds must be >= 1")
    # Eager checkpoint, not persist (r16, the hits() lesson — adj and
    # the adj-derived nodes relation are re-analyzed every round).
    # Local unless $SPARK_GRAFT_CHECKPOINT_DIR is set.
    adj = truncate_lineage(_undirect(edges, "id1", "id2"))
    nodes = adj.select("src").distinct().withColumnRenamed("src", "node")
    seed = F.broadcast(
        seeds.select(F.col("node"), F.col("label").alias("_seed_label"))
    )
    # assignment_i: (node, label) — seeds fixed, non-seeds from round i
    assign = nodes.join(seed, "node", "left").select(
        "node", F.col("_seed_label").alias("label")
    )
    w = Window.partitionBy("dst").orderBy(
        F.col("_n").desc(), F.col("label")
    )
    for _ in range(rounds):
        votes = (
            adj.join(
                assign.withColumnRenamed("node", "src"), "src"
            )
            .filter(F.col("label").isNotNull())
            .groupBy("dst", "label")
            .agg(F.count("*").alias("_n"))
        )
        mode = (
            votes.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .select(F.col("dst").alias("node"), F.col("label").alias("_prop"))
        )
        assign = (
            nodes.join(seed, "node", "left")
            .join(mode, "node", "left")
            .select(
                "node",
                F.coalesce(F.col("_seed_label"), F.col("_prop")).alias(
                    "label"
                ),
            )
        )
    return (
        assign.join(seed, "node", "left")
        .select(
            "node",
            "label",
            F.col("_seed_label").isNotNull().alias("is_seed"),
        )
    )


def kcore_peel(edges: DataFrame, k: int = 3, rounds: int = 3) -> DataFrame:
    """``rounds`` synchronous peel rounds toward the k-core
    (Matula & Beck 1983 / Seidman 1983): each round drops every node
    whose CURRENT degree is < k, then discards edges touching a
    dropped node. The k-core separates genuinely dense paraphrase /
    near-dup families from the chains and stars that survive mutual
    kNN by accident; a fixed round count (the label_propagation
    precedent) keeps the lineage linear and the output
    SQL-replayable — on a degree-bounded kNN graph the peel
    converges in a handful of rounds anyway (each survivor set is a
    subset of the last; report the per-round sizes and STOP reading
    when two rounds agree).

    Per round: one degree groupBy over the surviving edge relation +
    two semi-joins (each endpoint against the survivor set) — all
    keys degree-bounded (deg <= kNN k), nothing corpus-quadratic.
    Rounds localCheckpoint (the connected_components lineage rule:
    each round reads its predecessor three times).

    Output: (round, nodes_remaining, edges_remaining) for round
    0..rounds — round 0 is the input graph."""
    if k < 1 or rounds < 1:
        raise ValueError("k and rounds must be >= 1")
    # EAGER checkpoints, unlike connected_components' lazy ones: the
    # output unions TWO snapshot aggregates per round, all consumed
    # by ONE final action — with eager=False the checkpoint only
    # completes after the first job, so every snapshot branch
    # RECOMPUTES the full pre-checkpoint lineage (the kNN build)
    # inside that action: measured 121 s at sf10 vs ~40 s for the
    # build itself (exp +1.39). Eager materialization runs the build
    # exactly once, at construction time.
    e = truncate_lineage(edges.select("id1", "id2"))
    counts = []

    def _snapshot(rnd: int, ecur: DataFrame, nodes: DataFrame) -> DataFrame:
        return nodes.agg(
            F.lit(rnd).cast("int").alias("round"),
            F.count("*").cast("bigint").alias("nodes_remaining"),
        ).crossJoin(
            ecur.agg(F.count("*").cast("bigint").alias("edges_remaining"))
        )

    nodes = (
        e.select(F.col("id1").alias("node"))
        .union(e.select("id2"))
        .distinct()
    )
    counts.append(_snapshot(0, e, nodes))
    for r in range(1, rounds + 1):
        deg = (
            e.select(F.col("id1").alias("node"))
            .union(e.select("id2"))
            .groupBy("node")
            .agg(F.count("*").alias("_deg"))
        )
        alive = deg.filter(F.col("_deg") >= k).select("node")
        e = truncate_lineage(
            e.join(alive.withColumnRenamed("node", "id1"), "id1", "left_semi")
            .join(alive.withColumnRenamed("node", "id2"), "id2", "left_semi")
            .select("id1", "id2")
        )
        counts.append(_snapshot(r, e, alive))
    out = counts[0]
    for c in counts[1:]:
        out = out.unionByName(c)
    return out


def hits(edges: DataFrame, iterations: int = 3) -> DataFrame:
    """HITS hubs & authorities (Kleinberg, JACM 1999) over a DIRECTED
    edge relation — on a kNN graph the asymmetry is the interesting
    part: a high-AUTHORITY vector is one many other vectors choose as
    a near neighbor (the hub-vector pathology that mutual-edge
    filtering strips), while hubs are the choosers. Fixed
    ``iterations`` of the standard alternating update with
    MAX-normalization each half-step:

        a(v) = sum_{u -> v} h(u);  a /= max(a)
        h(u) = sum_{u -> v} a(v);  h /= max(h)

    max, unlike an L2 norm, is exactly order-insensitive, so the
    only cross-engine float slack is the neighbor-SUM partial order
    — absorbed by the output rounding, the same contract as
    :func:`pagerank`. Each normalizer is a one-scalar driver
    collect off a persisted gather (a model relation by the
    centroid-collect policy).

    Scale: per half-step one equi-join + one partial-aggregated sum
    on uniformly hashed node ids; on a kNN graph out-degree is
    exactly k, and skewed IN-degree (the hubs being measured) is
    precisely what AQE's skew-join handles. Nodes that never occur
    as a destination keep authority 0 (never gathered).

    Output: (node, hub, authority), both rounded to 6; hub/authority
    are 0 for nodes outside the respective support."""
    if iterations < 1:
        raise ValueError("iterations must be >= 1")
    # Eager localCheckpoint instead of persist (r16): every half-step
    # job, the nodes distinct, and the final join re-ANALYZE the edge
    # relation's full upstream plan — for a kNN producer that subplan
    # embeds the folded centroid literals, and the per-job analysis
    # cost dwarfed the 8k-row joins themselves (measured on q220:
    # final join 2.6 -> 1.1 s, nodes 3.7 -> 1.8 s). Checkpointing
    # collapses the input to a leaf once; blocks are node-count-sized
    # and die with the session (the CC/NN-Descent lineage rule).
    e = truncate_lineage(
        edges.select(F.col("src").alias("_s"), F.col("dst").alias("_d"))
    )
    if e.isEmpty():
        # empty-in / empty-out (r15 ADVICE): without the guard the
        # first normalizer collect returns NULL and float(None)
        # raises mid-iteration; an empty graph simply has no nodes
        # to score, so hand back an empty frame with the output
        # schema instead of raising.
        node_t = edges.schema["src"].dataType
        return local_frame(
            edges.sparkSession,
            [],
            T.StructType(
                [
                    T.StructField("node", node_t),
                    T.StructField("hub", T.DoubleType()),
                    T.StructField("authority", T.DoubleType()),
                ]
            ),
        )
    nodes = track(
        e.select(F.col("_s").alias("node"))
        .union(e.select(F.col("_d").alias("node")))
        .distinct()
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    h = nodes.select("node", F.lit(1.0).alias("_h"))
    a = None
    # Lineage discipline (header note / connected_components lesson):
    # the per-round persisted gathers keep RUNTIME reads off the old
    # rounds, but the logical plan still deepens by two joins per
    # round — past ~10 rounds planning time and eviction-cascade risk
    # grow the way CC's once did. Truncate with a localCheckpoint of
    # the (tiny, node-sized) score vectors every few rounds.
    _CKPT_EVERY = 4
    for _it in range(iterations):
        araw = track(
            e.join(h, e["_s"] == h["node"])
            .groupBy("_d")
            .agg(F.sum("_h").alias("_ar"))
            .persist(StorageLevel.MEMORY_AND_DISK)
        )
        amax = araw.agg(F.max("_ar")).collect()[0][0]
        a = araw.select(
            F.col("_d").alias("node"),
            (F.col("_ar") / F.lit(float(amax))).alias("_a"),
        )
        hraw = track(
            e.join(a, e["_d"] == a["node"])
            .groupBy("_s")
            .agg(F.sum("_a").alias("_hr"))
            .persist(StorageLevel.MEMORY_AND_DISK)
        )
        hmax = hraw.agg(F.max("_hr")).collect()[0][0]
        h = hraw.select(
            F.col("_s").alias("node"),
            (F.col("_hr") / F.lit(float(hmax))).alias("_h"),
        )
        if (_it + 1) % _CKPT_EVERY == 0 and _it + 1 < iterations:
            a = truncate_lineage(a)
            h = truncate_lineage(h)
    return (
        nodes.join(h, "node", "left")
        .join(a, "node", "left")
        .select(
            "node",
            F.round(F.coalesce(F.col("_h"), F.lit(0.0)), 6).alias("hub"),
            F.round(F.coalesce(F.col("_a"), F.lit(0.0)), 6).alias(
                "authority"
            ),
        )
    )
