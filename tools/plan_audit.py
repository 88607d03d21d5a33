#!/usr/bin/env python
"""Plan audit: dump PlanFacts for every catalog query — the
`.explain("formatted")` iteration loop, batched.

Usage: python tools/plan_audit.py [sf_dir]

Flags queries whose plans look scale-hostile: no pushed filters on a
filtered scan, zero broadcast where a small dim joins, cartesian
products, missing codegen.
"""

import json
import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from ulh_etl_spark.plans.inspect import formatted_plan, plan_facts  # noqa: E402
from ulh_etl_spark.session import get_spark  # noqa: E402


# Per-query shuffle budgets where >4 exchanges is the *correct* plan,
# with the per-exchange justification. The default budget (4) is a
# single-operator heuristic; a multi-stage composition legitimately
# shuffles once per stage.
SHUFFLE_BUDGET = {
    # q163 nests the q93 epoch-shard assignment and joins it back to
    # per-doc token counts: q93's range repartition for the global
    # permutation (1) + its partition-offset exchange (2), the
    # doc_id join of assignment to token counts — both sides
    # corpus-sized, so both shuffle (3, 4), and the 4-row
    # reader-shard aggregate (5). One shuffle per composition stage;
    # none re-shuffles a key it already has.
    # q169 composes the q159 kNN build (cell join + rank window on
    # the persisted assignment — the lineage the persist cuts) with
    # 3 unrolled PageRank rounds: each round is ONE gather shuffle
    # (adj join ranks -> groupBy dst) + ONE apply join back to deg.
    # 2 exchanges/round x 3 + the degree aggregate = 7 runtime
    # exchanges; every round must move rank mass across the edge
    # relation — that's the algorithm, not a plan defect. The BUDGET
    # is higher than 7 because the static formatted plan re-renders
    # the persisted adj/deg subtrees per consumer (and the render
    # count shifts with what the audit session already cached);
    # runtime executes them once from cache.
    "q169_knn_pagerank": 14,
    # q170's static plan re-renders the PERSISTED `oriented` and
    # `deg` subtrees once per consumer (wedge left arm, wedge right
    # arm, closing-edge semi-side, and the final degree join) — the
    # formatted plan triples the kNN-build exchanges that execute
    # exactly once from cache at runtime (4.4 s sf0.1 anchor
    # confirms single materialization). Genuinely distinct runtime
    # exchanges: kNN build (cell join + rank window), degree agg,
    # orientation joins, wedge self-join, closure join, corner
    # count, final left join — ~8; the other 14 are the audit's
    # static render of cached reuse.
    "q170_knn_triangles": 26,
    # q200 = q169 on the two-level assignment: identical downstream
    # plan (3 PageRank rounds x 2 exchanges + degree agg + kNN
    # build), same static re-render caveat on the persisted adj.
    "q200_knn_pagerank_two_level": 14,
    # q201 composes the q186 seed build with THREE NN-Descent rounds
    # (each: undirected distinct + candidate distinct + two id-keyed
    # vector-fetch joins + rank window — the q188 chain, x3) plus
    # four brute-force recall legs unioned. One exchange per
    # refinement stage over degree-bounded relations; the static
    # count re-renders each persisted round per consumer (the
    # q169/q170 caveat) — runtime reads each round's cache once.
    "q201_nn_descent_plateau": 30,
    # q204 sweeps 6 (coarse_nprobe, nprobe) configs (r13: widened to
    # span seed-to-exact); per config the static plan renders the
    # persisted probe frame's consumers (pair explode + size groupBy
    # + the kNN cell join + rank window, ~4-5 exchanges) plus the
    # shared brute-force leg's window — the q201 caveat applies
    # (persisted subtrees re-render in the formatted plan; runtime
    # reads each cache once). Budget = 6 configs x 5 + brute leg +
    # final unions, with the CC-family audit-session variance
    # headroom (r12 memory note). r14: +6 — the BLAS scoring
    # kernel's cogroup renders one exchange per side where the SQL
    # join's legs shared the persisted assigned subtree's exchange.
    "q204_recall_cost_curve": 44,
    # q160 (r14, BLAS scoring kernel): the kNN build's cogroup is 2
    # exchanges (probe + index side, where the SQL join's two legs
    # shared the persisted assigned subtree's one) + the global rank
    # window (1) + the components label join: node-universe union
    # distinct (1) + final left join (1) + the cluster-size groupBy
    # (1). The contraction rounds themselves ran eagerly before this
    # plan exists; each round is 2 phase exchanges + 1 distinct on a
    # checkpoint-truncated lineage.
    "q160_semantic_clusters": 6,
    # q231 = q160's chain (kNN build + mutual filter + CC rounds over
    # localCheckpoint-truncated edges) + the edges->component join and
    # two bounded groupBys; the CC rounds' per-phase exchanges land in
    # the static render the same way q160's do.
    "q231_cluster_edge_density": 10,
    # q233 assortativity: the q231 build minus CC, plus the degree
    # groupBy and two degree joins + the final 5-sum aggregate.
    "q233_knn_assortativity": 10,
    # q235 inter-arrival profile: the (type, day) chunk window (1),
    # the per-day boundary aggregate (2) and its day-chain window
    # (3, over a tiny type x days relation), the per-type rank
    # window over persisted gaps (4), the per-type stats aggregate
    # (5), and the percentile join (6) — one exchange per exact-
    # selection stage; only (1) and (4) are corpus-sized, both on
    # parallel keys.
    "q235_interarrival_profile": 7,
    # q187 composes THREE top-k legs over the same corpus — exact
    # brute-force window (1) + single-probe graph (cogroup 2 + window
    # 1) + multi-probe graph (cogroup 2 + window 1) — then one
    # broadcast-joined recall compare (1).
    "q187_knn_recall_uplift": 8,
    # q205 = the q201 shape with the hash-ring seed: the seed's
    # global row_number costs a range repartition + rank exchange,
    # the stride join one more, then 3 NN-Descent rounds (each ~2
    # candidate-distinct/join exchanges + rank window) + 4 recall
    # legs + brute leg. Same persisted-subtree re-render caveat.
    "q205_nn_descent_random_init": 30,
    # The connected-components consumers (star-contraction CC over a
    # candidate-pair relation): the returned labels plan joins the
    # last checkpointed round with the node set, and the STATIC
    # render inlines the pair-builder subtree (bands/pairs distinct,
    # 2-4 exchanges) plus the node union/distinct and the final join
    # — whether those render as InMemoryTableScan or in full depends
    # on what the audit session happens to still hold in cache (the
    # r10 audit note: counts VARY with cache state; r11 rendered
    # these at 0-2, r12 at 8-12 from the same code). Runtime
    # executes the checkpointed rounds once. Budgets sized to the
    # full uncached render with headroom.
    # q208 sliding HLL: the hourly register cube groupBy (1, the only
    # corpus-sized partial-agg), the window MAX-merge over the
    # exploded CUBE (2 — constant <=64 rows/hour input), the per-
    # window estimate agg (3), and the exact-audit explode +
    # countDistinct (4, 5 — the audit column, dropped at scale).
    # Re-windowing reads the cube only; nothing re-keys.
    "q208_sliding_distinct_users": 6,
    # q212 incremental cube: one partial-agged cube groupBy per batch
    # (4 — each over its 1/4 event slice, constant <=64 rows/hour
    # out), the sequential max-merge groupBys run on CUBE-sized
    # relations only, and the final window merge + estimate aggs (2).
    # Never re-reads history; nothing corpus-sized past the batch
    # cubes.
    "q212_sliding_cube_incremental": 8,
    # q213 KMV overlap: the distinct (group, hash) build (1), the
    # per-group bottom-k rank window (2), the pair-expand joins and
    # union groupBy over SKETCH-sized relations (<= |groups| x k
    # rows, 3-4 exchanges that would broadcast at scale), the
    # per-pair union rank window + estimate agg (2), and the exact
    # AUDIT legs (sizes groupBy + the full-set intersection
    # self-join — the corpus-scale part you drop at 100 TB). The
    # static count re-renders the persisted el subtree per consumer
    # (the q169/q170 caveat).
    # r14 +2: the distinct-before-hash build adds a second distinct
    # exchange on (g, h) (the md5-after-dedup optimization), and the
    # audit endpoint sample's aud filter renders one more semi-join
    # leg; every added relation is <= the old el relation.
    "q213_kmv_source_overlap": 18,
    # q209 k-core: 3 synchronous peel rounds x (degree groupBy + two
    # survivor semi-joins) over the localCheckpoint'ed edge relation
    # (9), plus the per-round 1-row snapshot aggregates and the kNN
    # build's own exchanges (the q199 chain) — every relation is
    # degree-bounded (deg <= kNN k), each round strictly shrinks it.
    "q209_kcore_peel": 14,
    # q206 prefix-filter join (r15 shape): fan_out repartition of the
    # gram build (1), gram-frequency groupBy (2), token->frequency
    # join (3), per-doc row_number window (4), the small-bloom join
    # onto the prefix relation by doc id (5), the candidate DISTINCT
    # after the inline-screened prefix self-join (6), the needed-doc
    # id DISTINCT (7), and the candidate-sized bloom-screen/verify
    # joins (8-10 — all over screen-output-sized relations; the
    # needed-doc id list BROADCASTS so the corpus gram relation never
    # shuffles for them). r15 moved the bloom screen INSIDE the
    # prefix join's codegen filter (plain-long columns, no HOF), so
    # the only corpus-sized exchanges left are (1)-(5); everything
    # after the enumeration filter is output-sized by measurement
    # (sf10: 25,600 of 3.46 B enumerated rows survive). Static render
    # re-renders the persisted g/pref/cand subtrees per consumer.
    "q206_prefix_filter_pairs": 12,
    # q215 bloom difference matrix: distinct (g, element) (1) +
    # distinct (g, h) (2, the hash-after-dedup pair), packed-word
    # groupBy (3), densify left join (4), the word-keyed pair join +
    # pair groupBy (5-6), sizes groupBy (7) — every relation past
    # the first distinct is |groups| x W.
    "q215_bloom_difference_matrix": 7,
    # q220 HITS: the final plan joins the node universe (union
    # distinct, 1) with the last hub and authority gathers (each one
    # id-keyed join + partial-agg sum over the persisted edge
    # relation, 2 each) — earlier rounds ran eagerly behind persists.
    "q220_knn_hits": 5,
    # q221 hubness: the kNN build's cogroup (2) + rank window (1) +
    # the in-degree groupBy (1) + the k-occurrence groupBy (1) — each
    # exchange a strictly smaller relation than the last.
    "q221_knn_hubness": 5,
    # q227 label agreement: same kNN build as q221 (cogroup + rank
    # window) + the two label joins on vec_id and the label groupBy.
    "q227_knn_label_agreement": 7,
    # q232 LSH recall curve: the 1-row count aggregate feeding the
    # self-sizing sample modulus (1), the q36 signature build's
    # fan_out + shingle groupBy on the SAMPLED docs (2-3), the band
    # self-join + candidate distinct (4-5), the pairs-vs-candidates
    # left join (6), and the decile groupBy (7). Every exchange past
    # the sample-selection scan is sample-sized (~160 docs / ~12.7k
    # pairs) by construction — the budget is the query's contract.
    "q232_lsh_recall_curve": 8,
    # q225 Heaps curve: the word-first groupBy (1), the per-checkpoint
    # type aggregate (2), the per-doc token aggregate (3), the 1-row
    # max aggregate feeding the broadcast checkpoint table (4), and
    # the 5-row frac join (5) — one exchange per composition stage,
    # both corpus passes partial-aggregated map-side.
    "q225_heaps_vocab_growth": 5,
    # q217 nDCG: lexical rank window (1), relevance broadcast join is
    # narrow, DCG fold groupBy (2), ideal rank window (3) + fold
    # groupBy (4), final join (5) — all over queries x corpus narrow
    # rows then queries x 10.
    "q217_ndcg_eval": 5,
    "q75_neardup_components": 14,
    "q102_neardup_collapse": 17,
    "q105_phash_neardup_clusters": 15,
    "q121_cluster_size_histogram": 18,
    "q157_leakage_free_split": 17,
    # q175 = the q159 kNN build + 2 synchronous label-propagation
    # rounds, each ONE vote shuffle (adj join assignment ->
    # groupBy(dst, label)) + ONE rank window on dst; the seed/mode
    # joins broadcast (seed set is a fixed fraction of nodes here,
    # label relation deg-bounded). Same static-render caveat as
    # q169/q170: the budget covers re-renders of the persisted adj
    # subtree, which executes once from cache.
    "q175_label_propagation": 14,
    # q188 = the q186 multi-probe kNN build (cell join + rank
    # window over the persisted assignment) feeding one NN-Descent
    # round: undirected-edge distinct (1), the two-hop pivot join
    # (2), candidate distinct (3), the two id-keyed vector-fetch
    # joins (4, 5), and the final rank window (6) — one exchange
    # per refinement stage, each over a degree-bounded (<= N(2k)^2)
    # relation, plus the kNN build's own pair. The static count
    # also re-renders the persisted assigned subtree per consumer
    # (the q169/q170 caveat); runtime executes it once from cache.
    "q188_nn_descent": 12,
    # q189 runs q188's chain PLUS the brute-force leg (one rank
    # window over the 64-query sample) and two broadcast recall
    # joins; same static-re-render caveat on the persisted seed.
    "q189_nn_descent_recall": 12,
    # q190's unigram-LM trainer is a 2-round EM chain over the
    # PERSISTED span relation: runtime exchanges are the word
    # histogram (1), one vocab-pivot groupBy + one piece-count
    # groupBy per round (4), the three Laplace 1-row totals (3,
    # single-scalar exchanges broadcast back), the seed top-K
    # (TakeOrdered, no full exchange), the refresh full-outer join
    # (2) and the final vocab join — ~11; the static plan re-renders
    # the persisted spans subtree once per consumer (seed, chars,
    # and both rounds' pivots — the q169/q170 caveat), tripling the
    # count. Every relation after the histogram is |distinct words|
    # x 42 spans or fixed-vocab-bounded.
    "q190_unigram_vocab": 40,
    # q191 = q190's chain through the final vocabulary plus the
    # corpus re-join (token explode + per-doc aggregate): the same
    # static spans re-renders plus 2 genuine corpus-side exchanges.
    "q191_unigram_fertility": 26,
    # q179 needs two count relations and two scalar totals from the
    # same token stream: unigram explode partial-agg (1), bigram
    # explode partial-agg (2), the two 1-row totals (3, 4 — each a
    # single-scalar exchange, broadcast back), and the two
    # vocabulary-keyed count joins w1/w2 (5, 6; AQE broadcasts the
    # unigram side when it fits — the audit counts the pre-AQE
    # plan) plus the min-count filter's reuse exchange (7). One
    # exchange per distinct model relation, the q78/q118 class.
    "q179_pmi_bigrams": 7,
    # q180 composes the q153 blocking shape with scored ranking:
    # tf explode partial-agg (1), df agg (2), the 1-row doc count
    # (3), per-doc norm agg (4), rare-term candidate self-join (5),
    # pair distinct (6), the two (id, term)-keyed weight joins (7,
    # 8), the per-pair dot agg (9), the two norm joins (10 — norms
    # relation is doc-count-sized, exchanges for the SMJ), and the
    # per-doc rank window (11). One exchange per stage of a
    # genuinely 7-stage sparse-similarity pipeline; the persisted
    # weight relation is re-rendered statically (q169/q170 caveat).
    "q180_sparse_lexical_topk": 13,
    # q183 composes sessionization (user_id window shuffle) with the
    # decomposed sweep: boundary union re-uses the session relation
    # twice (static re-render), the day-partitioned running-sum
    # window (1 exchange), the per-day start/end count aggregates
    # (2), the O(days) baseline window (single-partition BY DESIGN —
    # the days relation is calendar-bounded), and the final day
    # joins (AQE-broadcast at runtime). One exchange per stage;
    # the 11 static count includes the session subtree re-renders.
    "q183_peak_concurrency": 12,
    # q184 needs two EXACT percentile aggregates over the same daily
    # relation (median, then median-of-deviations — the second is
    # definitionally downstream of the first): daily groupBy (1),
    # median agg (2), MAD agg over the deviation join (3), plus the
    # static re-render of the daily subtree feeding both percentile
    # legs and the final scored join (the med/mad relations
    # broadcast — they are series-key-sized). Sort-based exact
    # percentile is the oracle-parity choice; approx_percentile
    # collapses legs 2-3 to mergeable sketches at 100 TB.
    "q184_mad_anomalies": 8,
    # q185 builds TWO sketches and TWO exact count relations over
    # two scans: per side one constant-volume counter partial-agg
    # (1, 2) and one per-key count partial-agg (3, 4), the counter
    # dot join + per-row agg (5 — a depth x width relation, trivially
    # small), the exact count join (6; both sides key-counted, AQE
    # broadcasts the smaller), and the two 1-row final aggregates
    # (7). The exact legs are the AUDIT columns — at scale only the
    # two counter aggregates ship.
    "q185_join_size_sketch": 8,
    "q163_shard_balance": 5,
    # q74 composes 5 pipeline stages: exact-dedup window on fp (1),
    # minhash fan-out repartition of a 1-split input (2), signature
    # partial-agg (3), LSH band self-join (4), candidate-pair distinct
    # (5), near-dup anti-join (6). Each is a distinct, necessary
    # stage boundary; none is a redundant re-shuffle of the same key.
    "q74_curate_corpus": 7,
    # q78 needs corpus-global statistics AND a per-doc aggregate:
    # token explode -> term totals (1), grand total (2), score join
    # (3; AQE converts to broadcast at runtime — the audit counts the
    # pre-AQE plan), per-doc mean (4), NULL-preserving outer join back
    # to documents (5). Inherent to the mean-logprob semantics.
    "q78_unigram_logprob": 5,
    # q85 runs the MinHash signature pipeline on BOTH relations:
    # corpus fan-out repartition (1) + signature partial-agg (2),
    # benchmark fan-out (3) + signature partial-agg (4) — the
    # benchmark side is tiny, its band set broadcasts — and the final
    # per-doc collision count (5). No key is re-shuffled twice.
    "q85_lsh_decontamination": 5,
    # q91 composes the ENTIRE q78 pipeline (5 budgeted exchanges: term
    # explode agg, grand total, score join, per-doc mean, outer join
    # back) with global_ntile's two (range repartition + per-slice
    # window hash on _pid) and the final per-tier aggregate. Every
    # exchange is a distinct stage of a distinct operator; none
    # re-shuffles a key already partitioned.
    "q91_logprob_tiles": 8,
    # q141 reports purge counts for FOUR derived artifacts as one
    # lazy union (round-8 rewrite — the eager form hid its plan from
    # this audit entirely): four single-row aggregate legs (one
    # exchange each; the erasure-list side of every leg broadcasts)
    # plus the winnow-fingerprint leg's explode partial-agg. One
    # exchange per artifact is the report's inherent cost.
    "q141_deletion_impact": 5,
    # q153 composes 7 distinct stage boundaries: fan-out repartition
    # of the 1-split input (1), gram-posting explode -> df partial-agg
    # (2), rare-gram semi-join keyed on gram (3; rare set is NOT
    # driver-small in general — most grams of a diverse corpus sit in
    # the df window, so broadcasting it is the scale trap), posting
    # self-join on gram (4), candidate-pair distinct (5), and the two
    # id-keyed gram-array verify joins (6, 7). Each shuffles a new
    # key; none re-partitions one already in place.
    "q153_containment_pairs": 7,
    # q154 composes TWO full retrieval legs plus fusion: the dense
    # leg's per-query top-k window (1), the lexical leg's (2), the
    # full-outer fusion join on (query, item) (3, 4 — both top-k
    # relations re-partition onto the composite join key; each is
    # q x k rows, trivially bounded), and the fused ranking's window
    # (5). One exchange per stage of a genuinely multi-stage ensemble.
    "q154_hybrid_rrf": 5,
    # q158 composes BOTH decontamination legs (q85's budget
    # rationale doubled): exact leg = corpus gram explode partial-agg
    # (1) + bench gram distinct (2; the bench side then broadcasts)
    # + per-doc shared-gram agg (3); fuzzy leg = corpus fan-out (4)
    # + signature partial-agg (5) + per-doc band-hit agg (6); plus
    # the final report's doc_id join of the two hit relations (7).
    # Every exchange is a distinct stage of a distinct leg.
    "q158_decontamination_report": 7,
    # q145 runs the signature pipeline on BOTH relations (q85's
    # budget rationale): store fan-out (1) + signature agg (2),
    # batch fan-out (3) + signature agg (4), store band distinct (5;
    # tiny projection, AQE broadcasts it at runtime), the batch-band
    # join on (band_idx, band_key) (6; the window over the same key
    # reuses that partitioning), and the final per-doc flag agg (7).
    # Every exchange is a distinct stage boundary; no key re-shuffle.
    "q145_incremental_neardup": 7,
    # q104 is q78's exact pipeline shape with a bucket histogram in
    # place of the vocabulary: token explode -> bucket histogram (1),
    # model totals (2; broadcast back), per-doc sum (3), and the
    # NULL-preserving outer join back to documents (4+5, both sides
    # exchange for the SMJ on doc_id — per_doc is corpus-sized, no
    # broadcast possible). The log-ratio model join itself broadcasts
    # (bounded by n_buckets).
    "q104_dsir_importance": 5,
    # q118 trains a bigram KN model from the corpus itself: bigram
    # explode -> pair counts (1), forward/continuation marginals (2,
    # 3), the type-count 1-row agg (4), the model assembly joins on
    # w1/w2 (5, 6 — every model relation is BIGRAM-TYPE-bounded, so
    # each shuffle moves vocabulary-sized data, and AQE broadcasts
    # them at real corpus scale), per-doc mean (7) and the
    # NULL-preserving outer join back to documents (8, 9 — both
    # sides exchange for the doc_id SMJ). Same justification class
    # as q78/q104: one exchange per distinct model relation.
    "q118_kneser_ney_scores": 9,
    # q122 composes three pipelines: winnowing fingerprints (explode
    # is narrow; fp docfreq groupBy 1), the rare-fp filter join (2),
    # the split assignment join (3), the fp-bucketed self-join (4, 5
    # — both sides exchange), the distinct over leaky pairs (6) and
    # the per-split-pair rollup (7); the audit's pre-AQE plan also
    # counts the exchanges AQE later converts to broadcasts. No key
    # is re-shuffled redundantly: each boundary is a distinct stage
    # of the leakage semantics (cap -> tag -> pair -> dedupe ->
    # roll up).
    "q122_split_leakage": 10,
    # q131: basket distinct (1), the scalar order count (2, 1-row),
    # per-part counts (3), the in-order pair self-join (4, 5), the
    # pair-support groupBy (6), and the two lift joins against the
    # part counts (7, 8 — part-catalog-bounded, AQE-broadcastable).
    # One exchange per Apriori stage.
    "q131_copurchase_pairs": 9,
    # q133: the per-customer RFM rollup (1) followed by THREE
    # global_ntile passes, each costing its own range repartition
    # (2, 4, 6) plus the per-slice rank hash on _pid (3, 5, 7) —
    # the deliberate price of ntile-without-an-unpartitioned-window,
    # once per scored dimension. No key is re-shuffled redundantly:
    # each dimension's ordering is distinct by construction.
    "q133_rfm_segments": 7,
}


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    spark = get_spark("plan-audit")
    import __spark_entry__ as entry

    report = {}
    for name, fn in sorted(entry.queries().items()):
        try:
            df = fn(spark, sf_dir)
            facts = plan_facts(df)
            s = facts.summary()
            warnings = []
            if "CartesianProduct" in formatted_plan(df):
                warnings.append("CARTESIAN")
            budget = SHUFFLE_BUDGET.get(name, 4)
            if s["exchanges"] > budget:
                warnings.append(f"MANY_SHUFFLES({s['exchanges']})")
            if name in SHUFFLE_BUDGET:
                s["shuffle_budget"] = budget
            s["warnings"] = warnings
            report[name] = s
            flag = " !! " + ",".join(warnings) if warnings else ""
            print(
                f"{name:32s} scans={s['scans']} cols={s['scan_cols']} "
                f"xchg={s['exchanges']} bcast={s['broadcast_joins']} "
                f"smj={s['sortmerge_joins']} codegen={s['codegen_spans']}{flag}"
            )
        except Exception as e:
            report[name] = {"error": str(e)[:200]}
            print(f"{name:32s} ERROR {str(e)[:120]}")

    with open(os.path.join(ROOT, "PLAN_AUDIT.json"), "w") as f:
        json.dump(report, f, indent=1)
    print("\nwrote PLAN_AUDIT.json")


if __name__ == "__main__":
    main()
