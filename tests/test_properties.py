"""Property-based tests (hypothesis): the transform compilers obey
their declared semantics for arbitrary inputs — a python-side model is
the oracle, one Spark round-trip per example batch.

Strategy note: each property collects a BATCH of generated examples
and runs them through Spark in one createDataFrame/collect cycle, so
hypothesis shrinks on the pure-python model while Spark checks run on
whole batches (per-example Spark jobs would be minutes per property).
"""

import re

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from ulh_etl_spark.functions.transforms import (
    column_strip,
    dummy_key,
    split_reorder,
    value_map,
)
from ulh_etl_spark.resolve import ColumnResolver, norm_name
from ulh_etl_spark.sinks.logs import clean_error_message
from ulh_etl_spark.warehouse import apply_zone_naming, ensure_zones, zone_table

# keep examples printable-ASCII: the semantics under test are
# structural, and exotic unicode mostly tests the JVM's regex engine
TEXT = st.text(
    alphabet=st.characters(min_codepoint=32, max_codepoint=126), max_size=40
)


def run_column(spark, values, col_expr):
    """Evaluate a Column expression over one string column, batched."""
    df = spark.createDataFrame([(v,) for v in values], "v string")
    return [r.out for r in df.select(col_expr(F.col("v")).alias("out")).collect()]


@settings(max_examples=20, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(st.lists(TEXT, min_size=1, max_size=30),
       st.sampled_from(["{}", "-.", "()#", "ABC"]))
def test_strip_removes_exactly_those_chars(spark, values, chars):
    out = run_column(spark, values, lambda c: column_strip(c, chars))
    for v, o in zip(values, out):
        assert o == "".join(ch for ch in v if ch not in chars)


@settings(max_examples=15, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(
    st.lists(st.lists(TEXT.map(lambda s: s.replace(",", " ")),
                      min_size=1, max_size=4),
             min_size=1, max_size=20),
    st.lists(st.integers(min_value=0, max_value=5), min_size=1, max_size=4),
)
def test_split_reorder_model(spark, rows, part_order):
    """split_reorder == python model: split, pick (None past end),
    trim, concat_ws skipping Nones."""
    values = [",".join(parts) for parts in rows]
    out = run_column(
        spark, values,
        lambda c: split_reorder(c, ",", part_order, join_with="|"),
    )
    for parts_in, o in zip(rows, out):
        parts = ",".join(parts_in).split(",")
        picked = [parts[i].strip() if i < len(parts) else None for i in part_order]
        assert o == "|".join(p for p in picked if p is not None)


@settings(max_examples=15, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(st.lists(st.sampled_from(["Y", "y", "N", "n", "maybe", ""]),
                min_size=1, max_size=25))
def test_value_map_case_insensitive_fallback(spark, values):
    mapping = {"Y": "yes", "N": "no"}
    out = run_column(spark, values, lambda c: value_map(c, mapping))
    for v, o in zip(values, out):
        expected = mapping.get(v, mapping.get(v.upper() if v else v, v))
        assert o == expected


@settings(max_examples=15, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(st.lists(st.tuples(st.one_of(st.none(), TEXT), st.integers(0, 10**6)),
                min_size=1, max_size=25))
def test_dummy_key_blank_fallback(spark, pairs):
    df = spark.createDataFrame(pairs, "k string, fb long")
    out = df.select(
        dummy_key(F.col("k"), F.col("fb")).alias("out"), "k", "fb"
    ).collect()
    for r in out:
        if r.k is None or r.k.strip() == "":
            assert r.out == f"NOMBI_{r.fb}"
        else:
            assert r.out == r.k


@given(st.text(max_size=60))
def test_norm_name_idempotent_and_clean(name):
    n = norm_name(name)
    assert norm_name(n) == n
    assert re.fullmatch(r"[a-z0-9]*", n)


@given(st.lists(st.sampled_from(
    ["Patient ID", "patient_id", "PATIENT-ID", "Appt Date", "x1"]),
    min_size=1, max_size=5))
def test_resolver_finds_normalized_aliases(cols):
    r = ColumnResolver(cols)
    for c in cols:
        # any punctuation/case variant of a present column resolves
        assert r.resolve(c.upper().replace(" ", "_")) is not None
        assert r.resolve(c) is not None


# ------------------------------------------------- plain unit additions


def test_clean_error_message():
    raw = "(1304): 01b2e3f4-aaaa-bbbb: 100038 (22018): Numeric value 'x' bad"
    assert clean_error_message(raw) == "Numeric value 'x' bad"
    assert clean_error_message("plain message") == "plain message"
    assert clean_error_message("") == ""
    assert len(clean_error_message("x" * 1000)) == 500


def test_zone_table_naming():
    assert zone_table("raw", "ADCS", "Appointments") == "raw_zone.adcs_appointments"
    assert zone_table("curated", "fast-pace", "el fe") == "curated_zone.fast_pace_el_fe"
    with pytest.raises(ValueError):
        zone_table("gold", "p", "e")


def test_apply_zone_naming_fills_unset():
    from ulh_etl_spark.config import IngestEntry

    e = IngestEntry(name="appts", transforms=[{"kind": "strip"}],
                    curated_mapping=[{"target": "X"}])
    apply_zone_naming(e, "adcs")
    assert e.raw_table == "raw_zone.adcs_appts"
    assert e.refined_table == "refined_zone.adcs_appts"
    assert e.curated_table == "curated_zone.adcs_appts"
    # explicit names are kept
    e2 = IngestEntry(name="x", raw_table="custom")
    apply_zone_naming(e2, "p")
    assert e2.raw_table == "custom"
    assert e2.refined_table is None


def test_ensure_zones_idempotent(spark):
    ensure_zones(spark)
    ensure_zones(spark)
    dbs = {d.name for d in spark.catalog.listDatabases()}
    assert {"raw_zone", "refined_zone", "curated_zone"} <= dbs


def test_resolve_secret():
    from ulh_etl_spark.secrets import SecretNotFound, resolve_secret

    assert resolve_secret("K", {"K": "v"}) == "v"
    assert resolve_secret("K", lambda a: {"K": "v"}.get(a)) == "v"
    with pytest.raises(SecretNotFound) as exc:
        resolve_secret("MISSING", {})
    assert "MISSING" in str(exc.value)
    with pytest.raises(SecretNotFound):
        resolve_secret("EMPTY", {"EMPTY": ""})


def test_resolve_practice_secrets_skips_notes():
    from ulh_etl_spark.secrets import resolve_practice_secrets

    got = resolve_practice_secrets(
        {"note": "docs only", "dv": "DV_ALIAS"}, {"DV_ALIAS": "tok"}
    )
    assert got == {"dv": "tok"}


# ------------------------------------------------------------ temporal

_TS0 = 1_700_000_000  # epoch seconds base for generated timestamps


@settings(max_examples=10, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(
    left=st.lists(
        st.tuples(st.integers(0, 3), st.integers(0, 5000)),
        min_size=1, max_size=25,
    ),
    right=st.lists(
        st.tuples(st.integers(0, 3), st.integers(0, 5000), st.integers(0, 999)),
        min_size=1, max_size=25, unique_by=lambda r: (r[0], r[1]),
    ),
    direction=st.sampled_from(["backward", "forward"]),
    tolerance=st.one_of(st.none(), st.integers(1, 2000)),
)
def test_asof_join_matches_pandas_merge_asof(
    spark, left, right, direction, tolerance
):
    """asof_join must agree with pandas.merge_asof (the canonical
    single-node reference) on random keyed time series — both
    directions, with and without tolerance. Right side unique per
    (key, ts) so tie semantics can't differ."""
    import datetime as dt

    import pandas as pd

    from ulh_etl_spark.operators.temporal import asof_join

    def ts(sec):
        return dt.datetime.utcfromtimestamp(_TS0 + sec)

    ldf = spark.createDataFrame(
        [(i, f"k{k}", ts(s)) for i, (k, s) in enumerate(left)],
        "lid long, k string, ts timestamp",
    )
    rdf = spark.createDataFrame(
        [(f"k{k}", ts(s), v) for (k, s, v) in right],
        "k string, rts timestamp, val long",
    )
    got = {
        r["lid"]: r["matched_val"]
        for r in asof_join(
            ldf, rdf, on="k", left_ts="ts", right_ts="rts",
            right_payload=("val",), direction=direction,
            tolerance_seconds=tolerance,
        ).collect()
    }

    lp = pd.DataFrame(
        {"lid": range(len(left)),
         "k": [f"k{k}" for k, _ in left],
         "ts": [ts(s) for _, s in left]}
    ).sort_values("ts", kind="stable")
    rp = pd.DataFrame(
        {"k": [f"k{k}" for k, _, _ in right],
         "rts": [ts(s) for _, s, _ in right],
         "val": [v for _, _, v in right]}
    ).sort_values("rts", kind="stable")
    merged = pd.merge_asof(
        lp, rp, left_on="ts", right_on="rts", by="k",
        direction=direction, allow_exact_matches=True,
        tolerance=None if tolerance is None else pd.Timedelta(seconds=tolerance),
    )
    want = {
        int(row.lid): (None if pd.isna(row.val) else int(row.val))
        for row in merged.itertuples()
    }
    assert got == want


# --- round-4 corpus ops vs pure-python models ------------------------

WORDS = st.lists(
    st.text(alphabet=st.characters(min_codepoint=33, max_codepoint=126),
            min_size=1, max_size=6),
    min_size=0, max_size=25,
)


@settings(max_examples=15, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(st.lists(WORDS, min_size=1, max_size=15))
def test_chunk_documents_matches_model(spark, docs):
    """chunk_documents == python model: sliding slices of the token
    list with step = chunk - overlap; short docs whole, empty none."""
    from ulh_etl_spark.operators.text import chunk_documents

    chunk, overlap = 5, 2
    step = chunk - overlap
    df = spark.createDataFrame(
        [(i, " ".join(ws)) for i, ws in enumerate(docs)],
        "doc_id long, text string",
    )
    got = {}
    for r in chunk_documents(df, "text", "doc_id",
                             chunk_tokens=chunk, overlap=overlap).collect():
        got.setdefault(r["doc_id"], []).append(
            (r["chunk_idx"], r["chunk_text"], r["chunk_n_tokens"])
        )
    for i, ws in enumerate(docs):
        toks = [w for w in ws if w]  # whitespace split drops nothing here
        if not toks:
            assert i not in got
            continue
        n_chunks = max(-(-(len(toks) - overlap) // step), 1)
        want = [
            (j, " ".join(toks[j * step : j * step + chunk]),
             min(len(toks) - j * step, chunk))
            for j in range(n_chunks)
        ]
        assert sorted(got[i]) == want


@settings(max_examples=15, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(st.lists(WORDS, min_size=1, max_size=15))
def test_pack_sequences_invariants(spark, docs):
    """Per shard: offsets are the running sum in doc_id order and
    pack_idx = offset // ctx."""
    from ulh_etl_spark.operators.text import pack_sequences

    ctx = 7
    df = spark.createDataFrame(
        [(i, " ".join(ws)) for i, ws in enumerate(docs)],
        "doc_id long, text string",
    )
    rows = pack_sequences(df, "text", "doc_id", ctx_len=ctx, n_shards=3).collect()
    assert len(rows) == len(docs)
    by_shard = {}
    for r in sorted(rows, key=lambda r: (r["shard"], r["doc_id"])):
        expected = by_shard.get(r["shard"], 0)
        assert r["start_offset"] == expected
        assert r["pack_idx"] == expected // ctx
        assert r["n_tokens"] == len([w for w in docs[r["doc_id"]] if w])
        by_shard[r["shard"]] = expected + r["n_tokens"]


@settings(max_examples=10, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(st.lists(WORDS, min_size=1, max_size=12))
def test_top_ngrams_matches_model(spark, docs):
    from collections import Counter

    from ulh_etl_spark.operators.text import top_ngrams

    df = spark.createDataFrame(
        [(i, " ".join(ws)) for i, ws in enumerate(docs)],
        "doc_id long, text string",
    )
    got = [(r["ngram"], r["n_occurrences"])
           for r in top_ngrams(df, "text", n=2, k=5).collect()]
    c = Counter()
    for ws in docs:
        toks = [w.lower() for w in ws if w]
        c.update(f"{a} {b}" for a, b in zip(toks, toks[1:]))
    want = sorted(c.items(), key=lambda kv: (-kv[1], kv[0]))[:5]
    assert got == want


@settings(max_examples=10, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(
    st.lists(st.integers(min_value=0, max_value=20), min_size=0, max_size=60),
    st.integers(min_value=1, max_value=12),
)
def test_global_ntile_model(spark, vals, k):
    """global_ntile == the SQL-standard ntile model (python oracle):
    sort by (v, idx), bucket sizes differ by at most 1, big buckets
    first — for arbitrary duplicates, sizes, and k (including n <
    k and n == 0)."""
    from ulh_etl_spark.operators.rank import global_ntile

    rows = [(i, v) for i, v in enumerate(vals)]
    n = len(rows)
    order = sorted(rows, key=lambda r: (r[1], r[0]))
    base, extra = divmod(n, k)
    want, pos = {}, 0
    for b in range(1, k + 1):
        size = base + (1 if b <= extra else 0)
        for _ in range(size):
            want[order[pos][0]] = b
            pos += 1
    df = spark.createDataFrame(rows, "id long, v long") if rows else (
        spark.createDataFrame([], "id long, v long")
    )
    got = {
        r["id"]: r["t"]
        for r in global_ntile(df, ["v", "id"], k, out_col="t").collect()
    }
    assert got == want


# signed 64-bit longs, biased toward boundary structure (bit 63,
# shared bands) via a mix of full-range and small-perturbation values
_I64 = st.integers(min_value=-(2**63), max_value=2**63 - 1)


@settings(max_examples=15, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(st.lists(_I64, min_size=2, max_size=12, unique=True),
       st.sampled_from([0, 1, 2, 3, 7]))
def test_phash_banded_pairs_match_bruteforce(spark, hashes, flip_mask):
    """Pigeonhole property: with max_hamming=3 < bands=4 the banded
    LSH result must EQUAL the brute-force hamming join for arbitrary
    signed 64-bit hashes — including negatives and near-duplicate
    pairs planted by xor-ing a small mask onto the first hash."""
    from ulh_etl_spark.operators.multimodal import phash_neardup_pairs

    vals = list(hashes)
    # xor of a signed python int with a small mask stays in the
    # signed 64-bit range (infinite two's complement)
    planted = vals[0] ^ flip_mask
    if planted not in vals:
        vals.append(planted)
    df = spark.createDataFrame(
        list(enumerate(vals)), "media_id long, phash long"
    )
    got = sorted(
        (r.id1, r.id2, r.hamming)
        for r in phash_neardup_pairs(df).collect()
    )

    def ham(a, b):
        return bin((a ^ b) & ((1 << 64) - 1)).count("1")

    want = sorted(
        (i, j, ham(vals[i], vals[j]))
        for i in range(len(vals))
        for j in range(i + 1, len(vals))
        if ham(vals[i], vals[j]) <= 3
    )
    assert got == want


WORD = st.text(alphabet="abcd", min_size=1, max_size=3)


@settings(max_examples=10, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(st.lists(st.lists(WORD, max_size=8), min_size=1, max_size=8),
       st.integers(min_value=2, max_value=3))
def test_boilerplate_filter_matches_model(spark, docs, min_docs):
    """boilerplate_passage_filter vs a pure-python model at 1-token
    passages (every token is its own passage): a token is dropped
    everywhere iff it appears in >= min_docs distinct docs."""
    from ulh_etl_spark.operators.text import boilerplate_passage_filter

    rows = [(i, " ".join(toks)) for i, toks in enumerate(docs)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {
        r.doc_id: (r.clean_text, r.n_passages, r.n_dropped)
        for r in boilerplate_passage_filter(
            df, "text", "doc_id", passage_tokens=1, min_docs=min_docs
        ).collect()
    }
    # model passages: token-less docs emit ONE empty-string passage
    # (the explode_outer keep-a-row artifact, same as passage_dedup);
    # it participates in docfreq like any passage, so two empty docs
    # "share boilerplate" — hypothesis found this, both engines agree
    # on it, and the operator docstring documents it.
    passages = [toks if toks else [""] for toks in docs]
    docfreq = {}
    for ps in passages:
        for t in set(ps):
            docfreq[t] = docfreq.get(t, 0) + 1
    boiler = {t for t, n in docfreq.items() if n >= min_docs}
    for i, ps in enumerate(passages):
        kept = [t for t in ps if t not in boiler]
        dropped = sum(1 for t in ps if t in boiler)
        assert out[i] == (" ".join(kept), len(ps), dropped), (i, ps)


@settings(max_examples=10, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(st.lists(st.tuples(WORD, st.sampled_from(["A", "B"])),
                min_size=1, max_size=12),
       st.integers(min_value=0, max_value=2))
def test_levenshtein_link_pairs_matches_bruteforce(spark, rows, maxd):
    """Blocked linkage == brute-force python levenshtein restricted
    to same-block pairs."""
    from ulh_etl_spark.operators.dedup import levenshtein_link_pairs

    data = [(i, name, blk) for i, (name, blk) in enumerate(rows)]
    df = spark.createDataFrame(data, "id long, name string, blk string")
    got = {
        (r.id1, r.id2): r.distance
        for r in levenshtein_link_pairs(
            df, "id", "name", "blk", max_distance=maxd
        ).collect()
    }

    def lev(a, b):
        if len(a) < len(b):
            a, b = b, a
        prev = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            cur = [i]
            for j, cb in enumerate(b, 1):
                cur.append(min(prev[j] + 1, cur[j - 1] + 1,
                               prev[j - 1] + (ca != cb)))
            prev = cur
        return prev[-1]

    want = {}
    for i, (na, ba) in enumerate(rows):
        for j in range(i + 1, len(rows)):
            nb, bb = rows[j]
            if ba == bb and lev(na, nb) <= maxd:
                want[(i, j)] = lev(na, nb)
    assert got == want


@settings(max_examples=10, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(st.lists(st.lists(WORD, min_size=0, max_size=14),
                min_size=1, max_size=10),
       st.integers(min_value=1, max_value=4))
def test_duplicate_span_removal_matches_model(spark, docs, k):
    """Stride-1 span dedup == the brute-force python model: window at
    pos p of doc d is removable iff the same k-token text occurs at
    any position of any SMALLER doc id; removable windows union into
    covered positions; clean_text = uncovered tokens joined."""
    from ulh_etl_spark.operators.text import duplicate_span_removal

    rows = [(i, " ".join(toks)) for i, toks in enumerate(docs)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r.doc_id: (r.n_tokens, r.n_removed, r.clean_text)
        for r in duplicate_span_removal(
            df, "text", "doc_id", window_tokens=k
        ).collect()
    }

    win_texts = {}  # doc -> set of window tuples
    for i, toks in enumerate(docs):
        win_texts[i] = {
            tuple(toks[p : p + k]) for p in range(len(toks) - k + 1)
        }
    want = {}
    for i, toks in enumerate(docs):
        earlier = set().union(*(win_texts[j] for j in range(i)), set())
        covered = set()
        for p in range(len(toks) - k + 1):
            if tuple(toks[p : p + k]) in earlier:
                covered.update(range(p, p + k))
        clean = " ".join(t for q, t in enumerate(toks) if q not in covered)
        want[i] = (len(toks), len(covered), clean)
    assert got == want


@settings(max_examples=15, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(st.lists(
    st.lists(st.floats(min_value=-100, max_value=100,
                       allow_nan=False, allow_infinity=False,
                       width=32),
             min_size=3, max_size=3),
    min_size=2, max_size=12))
def test_sq8_encode_properties(spark, vecs):
    """SQ8 invariants for arbitrary float32 vectors: codes in
    [0, 255]; boundary values map to the extreme codes; per-dim
    reconstruction error bounded by half a quantization cell; flat
    dims contribute zero error; bounds match the python min/max."""
    from ulh_etl_spark.operators.similarity import sq8_bounds, sq8_encode

    df = spark.createDataFrame(
        list(enumerate(vecs)), "vec_id long, embedding array<float>"
    )
    import struct as _struct

    f32 = lambda x: _struct.unpack("f", _struct.pack("f", x))[0]  # noqa: E731
    pyv = [[f32(x) for x in v] for v in vecs]
    mns, mxs = sq8_bounds(df)
    assert mns == [min(v[d] for v in pyv) for d in range(3)]
    assert mxs == [max(v[d] for v in pyv) for d in range(3)]
    out = {
        r.vec_id: (list(r.codes), r.recon_err)
        for r in sq8_encode(df, (mns, mxs)).collect()
    }
    for vid, v in enumerate(pyv):
        codes, err = out[vid]
        bound = 0.0
        for d in range(3):
            assert 0 <= codes[d] <= 255
            if mxs[d] > mns[d]:
                if v[d] == mns[d]:
                    assert codes[d] == 0
                if v[d] == mxs[d]:
                    assert codes[d] == 255
                cell = (mxs[d] - mns[d]) / 255.0
                bound += cell * cell  # (full cell)^2 slack: floor+mid
            else:
                assert codes[d] == 0
        assert err <= bound + 1e-9


@settings(max_examples=15, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(st.lists(st.text(alphabet="ab ", min_size=0, max_size=30),
                min_size=2, max_size=10))
def test_vocab_coverage_properties(spark, texts):
    """vocab_coverage invariants: every doc appears exactly once;
    0 <= n_oov <= n_tokens; with the vocabulary >= distinct-token
    count, OOV is zero everywhere; n_tokens matches the python
    tokenization."""
    from ulh_etl_spark.operators.text import vocab_coverage

    docs = list(enumerate(texts))
    df = spark.createDataFrame(docs, "doc_id long, text string")
    distinct_all = {t for s in texts for t in s.lower().split()}
    out = {
        r.doc_id: (r.n_tokens, r.n_oov, r.oov_rate)
        for r in vocab_coverage(
            df, "text", "doc_id", vocab_size=max(len(distinct_all), 1)
        ).collect()
    }
    assert set(out) == {d for d, _ in docs}
    for did, text in docs:
        n_tok, n_oov, rate = out[did]
        assert n_tok == len(text.lower().split())
        assert n_oov == 0 and rate == 0.0  # full-coverage vocab


@settings(max_examples=15, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(st.lists(st.integers(min_value=0, max_value=30), min_size=1,
                max_size=15, unique=True),
       st.lists(st.integers(min_value=0, max_value=30), min_size=1,
                max_size=15, unique=True))
def test_rrf_fuse_matches_model(spark, leg1_items, leg2_items):
    """rrf_fuse equals the python RRF model for arbitrary two-leg
    rankings of one query: scores, ordering (rounded-score desc then
    item id), and top-k truncation."""
    from ulh_etl_spark.operators.similarity import rrf_fuse

    l1 = spark.createDataFrame(
        [(0, item, r + 1) for r, item in enumerate(leg1_items)],
        "query_id long, item_id long, rank int",
    )
    l2 = spark.createDataFrame(
        [(0, item, r + 1) for r, item in enumerate(leg2_items)],
        "query_id long, item_id long, rank int",
    )
    got = [
        (r.item_id, r.rrf_score, r.rank)
        for r in rrf_fuse([l1, l2], k_const=60, topk=5)
        .orderBy("rank")
        .collect()
    ]
    model = {}
    for r, item in enumerate(leg1_items):
        model[item] = model.get(item, 0.0) + 1.0 / (60 + r + 1)
    for r, item in enumerate(leg2_items):
        model[item] = model.get(item, 0.0) + 1.0 / (60 + r + 1)
    ranked = sorted(
        ((round(s, 6), item) for item, s in model.items()),
        key=lambda t: (-t[0], t[1]),
    )[:5]
    want = [(item, s, i + 1) for i, (s, item) in enumerate(ranked)]
    assert got == want


def test_sq8_encode_clamps_below_train_min(spark):
    """r10 ADVICE pin: a vector below the stored per-dim min (the
    normal train-bounds/apply-batch split) clamps to code 0 on both
    sides, matching the documented clamp(floor(...), 0, 255)."""
    from ulh_etl_spark.operators.similarity import sq8_encode

    df = spark.createDataFrame(
        [(1, [0.5, 2.0]), (2, [-3.0, 10.0])],
        "vec_id int, embedding array<float>",
    )
    rows = {
        r.vec_id: r
        for r in sq8_encode(df, ([0.0, 0.0], [1.0, 1.0])).collect()
    }
    assert rows[2].codes == [0, 255]
    assert rows[1].codes == [127, 255]
    assert all(0 <= c <= 255 for r in rows.values() for c in r.codes)
