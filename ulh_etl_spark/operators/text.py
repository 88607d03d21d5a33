"""Text-analysis expression builders for document pipelines.

Engine additions beyond the reference surface (BASELINE.json
north-star): language-ID, quality scoring, token counting, document
fingerprinting. Everything compiles to built-in JVM expressions
(split/transform/aggregate/regexp) so the hot path is codegen'd and
Arrow/Pandas never enters — at 100 TB these run as narrow map stages
with full parquet pushdown of any preceding filter.

Cross-engine determinism: all hashing is md5-based (identical output
in Spark and DuckDB), so every operator here is oracle-testable.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from ulh_etl_spark.cache import track
from ulh_etl_spark.session import local_frame

# 32-bit integer space for md5-derived hashes; fits products with
# small multipliers far inside int64 (no overflow divergence between
# engines — DuckDB errors on BIGINT overflow, Spark wraps).
MERSENNE31 = 2_147_483_647

# Deterministic stopword list for quality scoring / language ID.
STOPWORDS_EN = ("the", "a", "of", "and", "to", "in", "is")


def md5_hash32(col: Column) -> Column:
    """Deterministic 32-bit hash: first 8 hex chars of md5 as a long.

    Chosen over xxhash64/murmur because md5 is bit-identical across
    Spark, DuckDB, and Python — the property the correctness oracle
    needs. One md5 per token is amortized noise next to the shuffle
    it feeds.
    """
    return F.conv(F.substring(F.md5(col), 1, 8), 16, 10).cast("long")


def md5_hash60(col: Column) -> Column:
    """Deterministic 60-bit hash: first 15 hex chars of md5 as a long
    (portable_phash's width — 15 nibbles keeps the value < 2^60, so
    it is sign-safe as a BIGINT in BOTH engines; 16 would overflow
    DuckDB's signed CAST for high digests). Use where a 32-bit space
    saturates: pairing/banding relations over >= ~2^16 keys collide
    at the base rate C(bits, <=h)/2^bits, which at 60 bits is ~3e-14
    for hamming <= 3 — negligible at any corpus size we can hold."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


def gram_hash64(col: Column) -> Column:
    """Fast 64-bit gram hash (xxhash64) for HASH-INVARIANT operators.

    Two-hash policy: md5_hash32 is for operators whose OUTPUT contains
    hash values the DuckDB oracle must reproduce bit-for-bit (minhash
    signatures, LSH band keys, winnowing fingerprints, hash splits).
    Where only counts/ratios of (distinct) grams escape — duplicate-
    gram fraction, cross-source overlap, blocked Jaccard, exact-gram
    decontamination — the hash is an internal compression and the
    oracle can count RAW grams instead; xxhash64 is a single JVM
    codegen intrinsic vs md5's digest+hex+conv chain. Measured at
    sf0.1: the 16-char-gram explode drops 1.24 s -> 0.57 s, full
    q94 1.90 s -> 1.20 s. 64-bit width keeps collision effects below
    oracle tolerance at any testable scale (~n^2 / 2^65)."""
    return F.xxhash64(col)


# Java's \s is [ \t\n\x0B\f\r]; RE2 (DuckDB's regex engine) omits
# \x0B from its \s — so a vertical tab in ANY document would silently
# break engine/oracle token parity. Every whitespace regex shared
# with an oracle therefore spells the class out EXPLICITLY (Java's
# semantics, kept); the escape syntax \t/\n/\x0B/\f/\r parses
# identically in both engines. _oracle_fragments imports these so
# the two sides cannot drift.
WS_CLASS = r"[ \t\n\x0B\f\r]"
WS_CHARS = r" \t\n\x0B\f\r"  # for composing negated classes


def whitespace_tokens(col: Column) -> Column:
    """Split on whitespace runs, dropping empties (leading blanks).
    Explicit class, not \\s — see WS_CLASS."""
    return F.filter(F.split(col, WS_CLASS + "+"), lambda t: t != "")


def token_count(col: Column) -> Column:
    return F.size(whitespace_tokens(col))


def bpe_ish_token_count(col: Column) -> Column:
    """BPE-flavored token count: alpha runs, digit runs, and single
    punctuation marks each count as one token (a cheap, deterministic
    stand-in for a real BPE vocabulary)."""
    return F.size(
        F.regexp_extract_all(
            col, F.lit(rf"[A-Za-z]+|[0-9]+|[^A-Za-z0-9{WS_CHARS}]"), 0
        )
    )


def char_ngrams(col: Column, n: int) -> Column:
    """Character n-gram list (positions 1..len-n+1; short texts yield
    their whole prefix as a single gram).

    Implemented as a single ``regexp_extract_all`` with a capturing
    lookahead ``(?=(.{n}))`` — one native regex pass per row instead
    of an interpreted per-position HOF (``transform(sequence(...),
    substring)``), which evaluates element-at-a-time outside codegen.
    Measured at sf0.1 (1.4M grams): 1.29 s -> 0.30 s for the bare
    array build; every gram-based operator (minhash, jaccard,
    decontamination, dup-fraction, overlap matrix) sits on this.
    ``(?s)`` keeps ``.`` matching newlines (multi-line documents)."""
    pat = f"(?s)(?=(.{{{n}}}))"
    return F.when(F.length(col) < n, F.array(col)).otherwise(
        F.regexp_extract_all(col, F.lit(pat), 1)
    )


def stopword_count(col: Column) -> Column:
    # NB: measured against array_contains(lit(list), t) — the isin
    # chain wins (Catalyst compiles IN over literals to an optimized
    # set lookup; the array literal forces a linear scan per token).
    toks = whitespace_tokens(F.lower(col))
    return F.size(F.filter(toks, lambda t: t.isin(*STOPWORDS_EN)))


def punct_count(col: Column) -> Column:
    """Count of sentence-punctuation characters."""
    return F.length(F.regexp_replace(col, r"[^.,;:!?]", ""))


def quality_score(col: Column) -> Column:
    """Composite document-quality heuristic in [0, 1]:
    0.5 * min(len,500)/500  (length credit)
    + 0.3 * stopword_ratio   (natural-language-ness)
    + 0.2 * (1 - punct_ratio) (not punctuation soup).
    Deterministic, closed-form — the same formula is the oracle."""
    length = F.length(col).cast("double")
    n_toks = F.greatest(token_count(col), F.lit(1)).cast("double")
    stop_ratio = stopword_count(col).cast("double") / n_toks
    punct_ratio = punct_count(col).cast("double") / F.greatest(length, F.lit(1.0))
    score = (
        F.least(length, F.lit(500.0)) / F.lit(500.0) * 0.5
        + stop_ratio * 0.3
        + (F.lit(1.0) - punct_ratio) * 0.2
    )
    return F.round(score, 6)


def with_quality_score(df, text_col: str):
    """quality_score as a frame transform (DataFrame in, DataFrame out).

    Measured note: a staged two-Project variant that materialized the
    token array once (withColumn("_toks", split) then two size()
    references) was benchmarked against the single-expression form at
    sf0.1 and LOST both cold (2.4 s vs 1.6 s, extra codegen) and warm
    (0.6 s vs 0.4 s, array materialization between projections) —
    runtime subexpression elimination already dedupes the split inside
    one projection, so the closed-form expression is the fast shape.
    """
    return df.withColumn("quality", quality_score(F.col(text_col)))


# Marker vocabularies for the n-gram/stopword language heuristic.
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "a", "of", "and", "is"),
    "es": ("el", "la", "de", "que", "y"),
    "de": ("der", "die", "das", "und", "ist"),
    "fr": ("le", "la", "les", "et", "est"),
}


def vocab_coverage(
    df,
    text_col: str,
    id_col: str,
    vocab_size: int = 256,
):
    """Per-document vocabulary coverage / OOV rate against the
    corpus's own top-``vocab_size`` token vocabulary — the tokenizer-
    fit audit run before committing a vocab: a rising OOV rate on a
    new source means the tokenizer will shred it into bytes/unknowns
    and its effective sequence length explodes. Vocabulary = the
    ``vocab_size`` most frequent lowercased whitespace tokens
    (count desc, token asc tiebreak — fully deterministic, so the
    SQL oracle derives the identical set).

    Scale: one token explode + partial-aggregated count shuffle for
    the vocabulary, a global top-K (TakeOrdered on K rows — never a
    single-partition window), then the coverage pass re-explodes with
    the vocab BROADCAST and one per-doc agg. Token-less docs pass
    through with n_tokens = 0 / oov_rate 0 (explode_outer).

    Output: (id, n_tokens, n_oov, oov_rate round 6)."""
    toks = df.select(
        F.col(id_col),
        F.explode_outer(
            whitespace_tokens(F.lower(F.col(text_col)))
        ).alias("_t"),
    )
    vocab = (
        toks.filter(F.col("_t").isNotNull())
        .groupBy("_t")
        .agg(F.count("*").alias("_c"))
        .orderBy(F.col("_c").desc(), F.col("_t"))
        .limit(vocab_size)
        .select("_t", F.lit(True).alias("_inv"))
    )
    return (
        toks.join(F.broadcast(vocab), "_t", "left")
        .groupBy(id_col)
        .agg(
            F.count("_t").alias("n_tokens"),
            F.coalesce(
                F.sum(
                    (
                        F.col("_t").isNotNull() & F.col("_inv").isNull()
                    ).cast("long")
                ),
                F.lit(0),
            ).alias("n_oov"),
        )
        .withColumn(
            "oov_rate",
            F.round(
                F.col("n_oov")
                / F.greatest(F.col("n_tokens"), F.lit(1)).cast("double"),
                6,
            ),
        )
    )


# Tiny per-language training corpora for the hashed char-n-gram
# profile classifier (lang_id_ngram). Everyday prose, written for
# this repo — enough trigram signal to separate the four languages'
# orthography (th/sch/que/aux...), NOT a general-purpose model; a
# real deployment swaps in profiles trained on real corpora through
# the same lang_ngram_weights() path unchanged.
LANG_PROFILE_SAMPLES: dict[str, str] = {
    "en": (
        "the weather this morning was cold and clear so we walked "
        "through the old town and looked at the market stalls "
        "which were full of bread and cheese and fresh vegetables "
        "everyone was talking about the coming winter and whether "
        "the trains would still run on time after the storm "
        "she said that they would probably be late again because "
        "the signals between the two stations had not been repaired "
        "meanwhile the new computer systems were processing all the "
        "data from the network and learning which messages mattered"
    ),
    "es": (
        "esta manana el tiempo estaba frio y despejado asi que "
        "caminamos por el casco antiguo y miramos los puestos del "
        "mercado que estaban llenos de pan y queso y verduras "
        "frescas todos hablaban del invierno que viene y de si los "
        "trenes seguirian llegando a tiempo despues de la tormenta "
        "ella dijo que probablemente volverian a llegar tarde porque "
        "las senales entre las dos estaciones no habian sido reparadas "
        "mientras tanto los nuevos sistemas informaticos procesaban "
        "todos los datos de la red y aprendian que mensajes importaban"
    ),
    "de": (
        "heute morgen war das wetter kalt und klar also sind wir "
        "durch die altstadt gelaufen und haben uns die marktstaende "
        "angeschaut die voller brot und kaese und frischem gemuese "
        "waren alle sprachen ueber den kommenden winter und darueber "
        "ob die zuege nach dem sturm noch puenktlich fahren wuerden "
        "sie sagte dass sie wahrscheinlich wieder zu spaet kommen "
        "weil die signale zwischen den beiden bahnhoefen noch nicht "
        "repariert worden waren waehrend dessen verarbeiteten die "
        "neuen rechnersysteme alle daten aus dem netz und lernten "
        "welche nachrichten wichtig waren"
    ),
    "fr": (
        "ce matin le temps etait froid et clair alors nous avons "
        "marche dans la vieille ville et regarde les etals du marche "
        "qui etaient pleins de pain et de fromage et de legumes "
        "frais tout le monde parlait de l'hiver qui arrive et se "
        "demandait si les trains arriveraient encore a l'heure apres "
        "la tempete elle a dit qu'ils seraient probablement encore "
        "en retard parce que les signaux entre les deux gares "
        "n'avaient pas encore ete repares pendant ce temps les "
        "nouveaux systemes informatiques traitaient toutes les "
        "donnees du reseau et apprenaient quels messages comptaient"
    ),
}


def lang_ngram_weights(
    n: int = 3, n_buckets: int = 512
) -> dict[str, list[float]]:
    """Hashed char-n-gram language PROFILES (pure Python, runs once
    at plan build) trained on LANG_PROFILE_SAMPLES: per language,
    bucket b's weight is the Laplace-smoothed multinomial
    log-likelihood log((count_b + 1) / (total + n_buckets)) of the
    language's training trigrams hashed by the same md5 bucketing
    the engine applies per document — the Cavnar-Trenkle n-gram
    profile idea in naive-Bayes form, deployable exactly like
    hashed_model_weights (plan-constant array, no vocab join).
    Weights round to 6 so the literal both
    engines parse is short and identical. 512 buckets: with ~1K
    training trigrams per language, 128 buckets average ~8 grams
    each and cross-language collision noise misclassifies clean
    fixtures (measured); 512 keeps buckets near-distinct while the
    4 x 512 literal array still parses in one plan constant."""
    import hashlib
    import math

    out = {}
    for lang, text in LANG_PROFILE_SAMPLES.items():
        t = text.lower()
        grams = (
            [t[i: i + n] for i in range(len(t) - n + 1)]
            if len(t) >= n
            else [t]
        )
        cnt = [0] * n_buckets
        for g in grams:
            b = int(hashlib.md5(g.encode()).hexdigest()[:8], 16) % n_buckets
            cnt[b] += 1
        tot = len(grams)
        out[lang] = [
            round(math.log((c + 1) / (tot + n_buckets)), 6) for c in cnt
        ]
    return out


def lang_gram_buckets(col: Column, n: int = 3, n_buckets: int = 512) -> Column:
    """md5 bucket index per char n-gram (1-based, ready for
    element_at). Compute this ONCE as a real column and fold every
    language's weight array over it: the md5 is ~all the per-gram
    cost, and scoring L languages against a shared bucket column is
    1 hash pass + L cheap array folds instead of L hash passes
    (measured 2x on the 4-language q150 plan — and the plan parses
    each weight array once instead of twice)."""
    return F.transform(
        char_ngrams(F.lower(col), n),
        lambda g: (md5_hash32(g) % F.lit(n_buckets) + 1).cast("int"),
    )


def _weights_literal(w: list[float]) -> Column:
    # ONE parsed array literal per language (not len(w) py4j lit
    # calls) — same rule as similarity._centroid_literal
    return F.expr(
        "array({})".format(", ".join(f"CAST({v!r} AS DOUBLE)" for v in w))
    )


def lang_score_from_buckets(bucket_col: Column, weights: list[float]) -> Column:
    """Mean log-likelihood of a pre-bucketed gram array under one
    language's profile, rounded 6 (both engines fold the list
    left-to-right over identical parsed doubles — q84's pattern)."""
    warr = _weights_literal(weights)
    total = F.aggregate(
        F.transform(bucket_col, lambda b: F.element_at(warr, b)),
        F.lit(0.0),
        lambda a, x: a + x,
    )
    return F.round(total / F.size(bucket_col).cast("double"), 6)


def lang_pred_from_scores(
    scores: dict[str, Column], text_col: Column
) -> Column:
    """argmax with the fixed en > es > de > fr tie-break;
    whitespace-only text stays 'unknown' (its single empty gram
    carries no signal)."""
    s = scores
    return (
        F.when(F.length(F.trim(text_col)) == 0, F.lit("unknown"))
        .when(
            (s["en"] >= s["es"]) & (s["en"] >= s["de"]) & (s["en"] >= s["fr"]),
            F.lit("en"),
        )
        .when((s["es"] >= s["de"]) & (s["es"] >= s["fr"]), F.lit("es"))
        .when(s["de"] >= s["fr"], F.lit("de"))
        .otherwise(F.lit("fr"))
    )


def lang_ngram_scores(
    col: Column,
    profiles: dict[str, list[float]],
) -> dict[str, Column]:
    """Per-language mean trigram log-likelihood (rounded 6) — the
    char-n-gram upgrade of lang_scores, as self-contained Columns.
    For multi-language scoring prefer materializing
    lang_gram_buckets once and lang_score_from_buckets per language
    (q150's shape) — this convenience form re-hashes the grams per
    language."""
    buckets = lang_gram_buckets(col, 3, len(next(iter(profiles.values()))))
    return {
        lang: lang_score_from_buckets(buckets, w)
        for lang, w in profiles.items()
    }


def lang_id_ngram(col: Column) -> Column:
    """Language ID by hashed char-n-gram naive-Bayes profiles — the
    production upgrade of the marker-word lang_id (which only sees
    exact stopword matches and calls everything else 'unknown').
    argmax of the per-language mean trigram log-likelihood under the
    default lang_ngram_weights() profiles (see lang_pred_from_scores).
    Still a pure JVM expression chain — no UDF, no join, the weight
    arrays ride the plan as parsed literals."""
    return lang_pred_from_scores(
        lang_ngram_scores(col, lang_ngram_weights()), col
    )


def _isin_pred(markers: tuple[str, ...]):
    # NB: capture via closure, NOT lambda default args — PySpark infers
    # unary/binary lambda from the parameter count.
    return lambda t: t.isin(*markers)


def lang_scores(col: Column) -> dict[str, Column]:
    toks = whitespace_tokens(F.lower(col))
    return {
        lang: F.size(F.filter(toks, _isin_pred(markers)))
        for lang, markers in LANG_MARKERS.items()
    }


def lang_id(col: Column) -> Column:
    """Marker-word language ID with a fixed priority tie-break
    (en > es > de > fr > unknown). A real system would use character
    n-gram profiles; the *shape* — per-language score columns + argmax
    — is identical, and this version is closed-form for the oracle."""
    s = lang_scores(col)
    expr = (
        F.when(
            (s["en"] >= s["es"]) & (s["en"] >= s["de"]) & (s["en"] >= s["fr"]) & (s["en"] > 0),
            F.lit("en"),
        )
        .when((s["es"] >= s["de"]) & (s["es"] >= s["fr"]) & (s["es"] > 0), F.lit("es"))
        .when((s["de"] >= s["fr"]) & (s["de"] > 0), F.lit("de"))
        .when(s["fr"] > 0, F.lit("fr"))
        .otherwise(F.lit("unknown"))
    )
    return expr


def normalized_text(col: Column) -> Column:
    """Canonical form for fingerprinting: lowercase, strip everything
    but [a-z0-9 ], collapse whitespace runs, trim."""
    lowered = F.lower(col)
    stripped = F.regexp_replace(lowered, r"[^a-z0-9 ]", "")
    collapsed = F.regexp_replace(stripped, r" +", " ")
    return F.trim(collapsed)


def fingerprint(col: Column) -> Column:
    """Content fingerprint: md5 of the normalized text. Two documents
    differing only in case/punctuation/whitespace collide — the exact
    near-dup class exact-hash dedup should catch."""
    return F.md5(normalized_text(col))


def hash_split(
    col: Column,
    salt: str = "split",
    train_pct: int = 80,
    val_pct: int = 10,
) -> Column:
    """Deterministic train/val/test assignment by md5(salt || key) mod
    100 — the scalable alternative to randomSplit for training-data
    pipelines: stable across runs/engines (no RNG state, no
    repartition sensitivity), joinable (the same key always lands in
    the same split), and a pure narrow map at any corpus size.
    """
    bucket = md5_hash32(F.concat(F.lit(salt), F.lit("_"), col.cast("string"))) % 100
    return (
        F.when(bucket < train_pct, F.lit("train"))
        .when(bucket < train_pct + val_pct, F.lit("val"))
        .otherwise(F.lit("test"))
    )


def weighted_sample_key(id_col: Column, weight: Column) -> Column:
    """Efraimidis-Spirakis (A-ES) weighted-sampling key:
    ``u^(1/w)`` with u a deterministic md5-derived uniform in (0,1).
    Taking the top-k rows by this key samples WITHOUT replacement with
    probability proportional to ``weight`` — and because top-k is a
    per-partition heap + tiny driver merge (TakeOrderedAndProject),
    the whole weighted sample costs a single scan with NO shuffle at
    any corpus size. Deterministic u makes the sample reproducible
    across runs and engines (no RNG state).

    ``weight = 0`` yields a NULL key (try_divide — a raw 1/0 is a
    hard error under default ANSI mode): NULLs sort last under the
    descending top-k, so zero-weight rows are never sampled — the
    A-ES limit of probability proportional to zero."""
    u = (
        md5_hash32(F.concat(F.lit("ws"), F.lit("_"), id_col.cast("string")))
        + F.lit(1.0)
    ) / F.lit(4294967297.0)  # (h+1)/(2^32+1) in (0,1)
    return F.pow(u, F.try_divide(F.lit(1.0), weight))


def hashed_model_weights(n_buckets: int) -> list[float]:
    """Deterministic stand-in weight vector for
    :func:`hashed_linear_score`, shaped like a trained linear model:
    w_i = md5-uniform('qmodel', i) - 0.5, centered in [-0.5, 0.5).
    A REAL trained model (fastText-style hashed bag-of-words) plugs
    its weights into the same scorer unchanged — nothing about the
    Spark plan depends on where the numbers came from."""
    import hashlib

    out = []
    for i in range(n_buckets):
        h = hashlib.md5(f"qmodel_{i}".encode()).hexdigest()[:8]
        out.append(round(int(h, 16) / 4294967296.0 - 0.5, 6))
    return out


def hashed_linear_score(text: Column, weights: list[float]) -> Column:
    """Model-based quality scoring at corpus scale — the fastText-
    style hashed bag-of-words linear classifier as a PURE JVM
    expression: each token hashes into one of ``len(weights)``
    buckets, the doc logit is the mean bucket weight, the score is
    its sigmoid. No Python in the hot path, no vocabulary join, no
    shuffle — the model rides the expression as ONE parsed array
    literal (an F.lit per weight would cost len(weights) py4j calls
    per plan; see similarity._centroid_literal for the same rule).

    This is how a learned quality filter actually deploys at 100 TB:
    hash-bucket lookup folded into codegen, weights broadcast as plan
    constants — not a UDF calling a model object per row.
    """
    k = len(weights)
    warr = F.expr(
        "array({})".format(
            ", ".join(f"CAST({w} AS DOUBLE)" for w in weights)
        )
    )
    toks = whitespace_tokens(F.lower(text))
    logits = F.transform(
        toks,
        lambda t: F.element_at(
            warr, (md5_hash32(t) % F.lit(k) + 1).cast("int")
        ),
    )
    mean = F.when(
        F.size(toks) > 0,
        F.aggregate(logits, F.lit(0.0), lambda a, x: a + x)
        / F.size(toks).cast("double"),
    ).otherwise(F.lit(0.0))
    return F.round(F.lit(1.0) / (F.lit(1.0) + F.exp(-mean)), 6)


def cap_per_group(
    df,
    group_col: str,
    id_col: str,
    n: int,
    salt_buckets: int = 16,
):
    """Per-group frequency cap — keep at most ``n`` rows per
    ``group_col``, selected deterministically (lowest
    ``md5('cap|' || id)`` first, id tiebreak). The Common Crawl-style
    domain cap: without it a handful of template-heavy domains
    dominate the training mix.

    Scale shape (the reason this is not one window): ``row_number()
    OVER (PARTITION BY group)`` funnels a hot group's entire row set
    through ONE task — a 1B-doc domain is a straggler or an OOM.
    Two-phase instead: (1) rank within (group, salt-of-id) — the hot
    group splits across ``salt_buckets`` tasks, each keeping its local
    top-``n``; (2) exact global per-group rank over the survivors,
    now <= n * salt_buckets rows per group by construction. Every
    global top-n row is in its salt-subgroup's top-n, so the result
    is IDENTICAL to the single-window form (which is the SQL oracle).
    """
    from pyspark.sql import Window

    key = F.md5(
        F.concat_ws("|", F.lit("cap"), F.col(id_col).cast("string"))
    )
    salted = df.withColumn("_ck", key).withColumn(
        "_cs", F.pmod(F.hash(F.col(id_col)), F.lit(salt_buckets))
    )
    w1 = Window.partitionBy(group_col, "_cs").orderBy("_ck", id_col)
    survivors = (
        salted.withColumn("_r1", F.row_number().over(w1))
        .filter(F.col("_r1") <= n)
        .drop("_r1")
    )
    w2 = Window.partitionBy(group_col).orderBy("_ck", id_col)
    return (
        survivors.withColumn("cap_rank", F.row_number().over(w2))
        .filter(F.col("cap_rank") <= n)
        .drop("_ck", "_cs")
    )


def top_ngrams(df, text_col: str, n: int = 2, k: int = 100):
    """Corpus-level top-``k`` word ``n``-grams by occurrence count —
    the vocabulary/phrase-statistics pass of a training-data pipeline
    (boilerplate phrase discovery, contamination probes, tokenizer
    corpus stats).

    Scale shape: tokenize once per doc (materialized column, so the
    n-gram transform's element_at lookups hit a cheap attribute, not
    a re-evaluated split — see winnow_fingerprints for why that
    matters), explode, ONE partial-agged groupBy on the n-gram, then
    ``orderBy().limit(k)`` which Spark executes as
    TakeOrderedAndProject: a per-partition top-k heap + driver merge
    of ``partitions x k`` rows — no global sort at any corpus size.
    Ties at the cutoff break deterministically by the n-gram string.

    Docs with fewer than ``n`` tokens contribute nothing (guarded
    BEFORE materializing: ``sequence(1, nt-n+1)`` would count DOWN
    for short docs and error in ANSI element_at)."""
    with_t = df.select(
        whitespace_tokens(F.lower(F.col(text_col))).alias("_toks")
    )
    toks = F.col("_toks")
    nt = F.size(toks)
    grams = F.transform(
        F.sequence(F.lit(1), nt - (n - 1)),
        lambda i: F.concat_ws(
            " ", *[F.element_at(toks, i + j) for j in range(n)]
        ),
    )
    # explode_outer + isnotnull, not plain explode: see
    # repetition_signals — InferFiltersFromGenerate would otherwise
    # re-inline the tokenizer into a pushed per-row filter. The
    # isnotnull filter sits ABOVE the Generate (it references the
    # generated attribute) and drops the placeholder row a short doc
    # emits; concat_ws never yields NULL so no real n-gram is lost.
    return (
        with_t.select(
            F.explode_outer(
                F.when(nt >= n, grams).otherwise(F.array())
            ).alias("ngram")
        )
        .filter(F.col("ngram").isNotNull())
        .groupBy("ngram")
        .agg(F.count("*").alias("n_occurrences"))
        .orderBy(F.col("n_occurrences").desc(), F.col("ngram"))
        .limit(k)
    )


def token_budget_sample(
    df,
    text_col: str,
    id_col: str,
    group_col: str,
    budget_tokens: int,
):
    """Per-group token-budget selection — the data-mixing pass that
    caps each source's contribution to a training mixture: within
    every ``group_col`` value, admit documents best-quality-first
    (deterministic doc-id tiebreak) until the group's token budget is
    exhausted. A doc is admitted iff the tokens taken BEFORE it are
    still under budget, so each group may overshoot by at most one
    document (greedy prefix rule — deterministic, engine-portable).

    Shape: one quality/token annotation pass (narrow), ONE window per
    group (running token sum, shuffle on the group key), then a
    predicate — no joins, no driver state. Skewed source sizes are a
    sort cost, not a correctness risk; a pathologically hot source
    would use the same salting escape hatch as any hot key
    (operators/skew.py).

    Output: (id, group, quality, n_tokens, taken_before) for admitted
    docs."""
    from pyspark.sql import Window

    ann = df.select(
        F.col(id_col),
        F.col(group_col),
        quality_score(F.col(text_col)).alias("quality"),
        token_count(F.col(text_col)).cast("long").alias("n_tokens"),
    )
    w = Window.partitionBy(group_col).orderBy(
        F.col("quality").desc(), F.col(id_col)
    )
    taken_before = F.sum("n_tokens").over(w) - F.col("n_tokens")
    return (
        ann.withColumn("taken_before", taken_before)
        .filter(F.col("taken_before") < budget_tokens)
    )


SFT_USER = "<|user|>"
SFT_ASSISTANT = "<|assistant|>"
SFT_END = "<|end|>"


def render_sft_pairs(
    df,
    text_col: str,
    id_col: str,
    prompt_tokens: int = 16,
):
    """Instruction-tuning data formatting: split each document into a
    (prompt, response) pair — prompt = the first ``prompt_tokens``
    tokens, response = the rest (the inverse-cloze stand-in for real
    conversation rows) — render the chat template
    ``<|user|>P<|assistant|>R<|end|>`` and emit the CHARACTER span of
    the response inside the rendered string. That span is the loss
    mask: trainers compute loss only on assistant chars/tokens, and
    shipping the offsets WITH the rendered text is what lets the
    tokenizer stage mask without re-parsing the template. Docs with
    fewer than ``prompt_tokens`` + 1 tokens yield nothing (no
    response to train on).

    Pure narrow map (tokenize + two joins + length arithmetic);
    token text is whitespace-normalized by the re-join, like every
    reassembly operator here. Offsets are 0-based,
    ``[resp_char_start, resp_char_end)``."""
    if prompt_tokens < 1:
        raise ValueError("prompt_tokens must be >= 1")
    with_t = df.select(
        F.col(id_col), whitespace_tokens(F.col(text_col)).alias("_toks")
    )
    toks = F.col("_toks")
    nt = F.size(toks)
    prompt = F.array_join(F.slice(toks, 1, prompt_tokens), " ")
    response = F.array_join(
        F.slice(toks, prompt_tokens + 1, nt - prompt_tokens), " "
    )
    rendered = F.concat(
        F.lit(SFT_USER), prompt, F.lit(SFT_ASSISTANT), response, F.lit(SFT_END)
    )
    start = (
        F.lit(len(SFT_USER)) + F.length(prompt) + F.lit(len(SFT_ASSISTANT))
    )
    return (
        with_t.filter(nt > prompt_tokens)
        .select(
            F.col(id_col),
            rendered.alias("rendered"),
            start.cast("long").alias("resp_char_start"),
            (start + F.length(response)).cast("long").alias("resp_char_end"),
            F.lit(prompt_tokens).cast("long").alias("n_prompt_tokens"),
            (nt - prompt_tokens).cast("long").alias("n_response_tokens"),
        )
    )


_HTML_ENTITIES = (
    ("&lt;", "<"),
    ("&gt;", ">"),
    ("&quot;", '"'),
    ("&#39;", "'"),
    ("&nbsp;", " "),
    ("&amp;", "&"),  # LAST: unescaping it earlier would re-interpret
    #                  sequences like "&amp;lt;" as a second entity
)


def html_to_text(col: Column) -> Column:
    """Web-crawl text extraction as a pure JVM expression chain — the
    stage between raw HTML and every text operator in this engine:
    1. drop <script>/<style> ELEMENTS wholesale (their text content
       is code, not prose — tag-stripping alone would leak it);
    2. strip comments, then all remaining tags;
    3. unescape the common entities (&amp; LAST — see _HTML_ENTITIES);
    4. collapse whitespace runs and trim.
    Regexes are RE2-compatible (no backrefs/lookbehind), so the
    DuckDB oracle runs the IDENTICAL patterns. A narrow map — the
    100 TB extraction pass is scan-shaped, zero shuffles. This is
    the deterministic core of extraction, not a browser: dynamic
    content, CSS visibility, and boilerplate DOM pruning
    (readability) are out of scope — boilerplate_passage_filter
    handles template text statistically downstream."""
    # two explicit element patterns, no backreference — RE2 (the
    # oracle's regex engine) has none; explicit whitespace classes,
    # not \s — Java and RE2 disagree on \x0B (see WS_CLASS)
    out = F.regexp_replace(
        col, rf"(?is)<script\b[^>]*>.*?</script{WS_CLASS}*>", " "
    )
    out = F.regexp_replace(
        out, rf"(?is)<style\b[^>]*>.*?</style{WS_CLASS}*>", " "
    )
    out = F.regexp_replace(out, r"(?s)<!--.*?-->", " ")
    out = F.regexp_replace(out, r"(?s)<[^>]*>", " ")
    for ent, ch in _HTML_ENTITIES:
        out = F.replace(out, F.lit(ent), F.lit(ch))
    return F.trim(F.regexp_replace(out, WS_CLASS + "+", " "))


def novelty_scores(
    df,
    text_col: str,
    id_col: str,
    n: int = 8,
):
    """Per-document corpus NOVELTY: the fraction of a doc's distinct
    character ``n``-grams whose globally FIRST occurrence (by
    ascending id — the ingest order) is this document. The curation
    dashboard metric behind "diversity decay": as a crawl grows, new
    documents' novelty falls, and the marginal value of ingesting
    more of the same source with it. Complements dup-gram stats
    (which measure sharedness, not attribution order).

    Scale (r16 restructure — same rows): the old shape joined the
    exploded (doc, gram) relation back onto first-occurrences at GRAM
    granularity — the explode evaluated twice and shuffled twice by
    gram hash. But per-gram attribution credits exactly ONE doc (the
    min), so n_novel(d) = |{g : first(g) = d}| falls out of the
    first-occurrence relation alone (groupBy the min-doc — a
    |distinct grams|-row shuffle, not a (doc, gram)-pair one), and
    n_grams(d) is just the distinct gram-array SIZE — a narrow map,
    no explode, no shuffle. One explode pass total, one partial-agged
    groupBy on the uniform gram hash (hot boilerplate grams collapse
    map-side), one doc-keyed join of two doc-bounded relations.
    Output: (id, n_grams, n_novel, novelty), novelty rounded to 6;
    docs with no grams emit no row (as before — they had no exploded
    rows to group)."""
    from ulh_etl_spark.operators.fanout import fan_out

    # The gram explode + per-doc distinct-gram hashing dominates; an
    # under-parallel input (one parquet split) would run it all on
    # one core — conditional fan-out, the winnowing/dedup rule.
    df = fan_out(df)
    hashed = F.array_distinct(
        F.transform(
            char_ngrams(F.col(text_col), n),
            lambda g: gram_hash64(g),
        )
    )
    grams = df.select(
        F.col(id_col),
        F.explode(hashed).alias("_g"),
    ).filter(F.col("_g").isNotNull())
    firsts = grams.groupBy("_g").agg(F.min(id_col).alias("_fd"))
    novel = firsts.groupBy("_fd").agg(
        F.count("*").cast("long").alias("n_novel")
    )
    per_doc = df.select(
        F.col(id_col),
        F.size(
            F.filter(hashed, lambda h: h.isNotNull())
        ).cast("long").alias("n_grams"),
    ).filter(F.col("n_grams") > 0)
    return (
        per_doc.join(
            novel, per_doc[id_col] == novel["_fd"], "left"
        )
        .select(
            per_doc[id_col],
            "n_grams",
            F.coalesce(F.col("n_novel"), F.lit(0).cast("long")).alias(
                "n_novel"
            ),
            F.round(
                F.coalesce(F.col("n_novel"), F.lit(0).cast("long"))
                / F.col("n_grams"),
                6,
            ).alias("novelty"),
        )
    )


def temperature_budget_mix(
    df,
    text_col: str,
    id_col: str,
    group_col: str,
    total_budget: int,
):
    """Temperature-scaled source mixing (the alpha = 0.5 rebalancing
    pass of multilingual / multi-source training mixtures): each
    group's share of ``total_budget`` tokens is proportional to
    sqrt(its token mass) — big sources are DOWN-weighted relative to
    raw proportion, small sources up-weighted, the standard
    temperature trick. Within each group, documents admit
    best-quality-first under the group's derived budget (the
    :func:`token_budget_sample` greedy prefix rule: at most one-doc
    overshoot, deterministic doc-id tiebreak).

    Bit-stable weight math: shares use the INTEGER sqrt of each
    group's token total (floor(sqrt(T)), exact for T < 2^52 in any
    IEEE engine) and integer division —
    ``target_g = total_budget * isqrt(T_g) DIV sum isqrt(T)`` — so
    both engines derive identical targets with no float summation
    order in sight. This is the engineering form of T^0.5
    temperature sampling; fractional-alpha pow() would hang the
    oracle on cross-engine pow rounding.

    Shape: annotation narrow map, one partial-agged groupBy for the
    per-group totals, a 1-row grand total that broadcasts back, and
    ONE admission window per group. Output per ADMITTED doc:
    (id, group, quality, n_tokens, taken_before, target_tokens)."""
    from pyspark.sql import Window

    if total_budget <= 0:
        raise ValueError("total_budget must be positive")
    ann = df.select(
        F.col(id_col),
        F.col(group_col),
        quality_score(F.col(text_col)).alias("quality"),
        token_count(F.col(text_col)).cast("long").alias("n_tokens"),
    )
    totals = ann.groupBy(group_col).agg(
        F.floor(F.sqrt(F.sum("n_tokens"))).cast("long").alias("_isq")
    )
    grand = totals.agg(F.sum("_isq").alias("_isq_sum"))
    targets = totals.crossJoin(F.broadcast(grand)).select(
        group_col,
        # integer DIV, not `/`: float division would reintroduce the
        # cross-engine rounding the isqrt formulation exists to avoid
        F.expr(f"CAST({total_budget} * _isq DIV _isq_sum AS BIGINT)")
        .alias("target_tokens"),
    )
    w = Window.partitionBy(group_col).orderBy(
        F.col("quality").desc(), F.col(id_col)
    )
    taken_before = F.sum("n_tokens").over(w) - F.col("n_tokens")
    return (
        ann.join(targets, group_col)
        .withColumn("taken_before", taken_before)
        .filter(F.col("taken_before") < F.col("target_tokens"))
        .select(
            id_col, group_col, "quality", "n_tokens",
            "taken_before", "target_tokens",
        )
    )


def chunk_documents(
    df,
    text_col: str,
    id_col: str,
    chunk_tokens: int = 64,
    overlap: int = 16,
):
    """Split each document into fixed-size token chunks with overlap —
    the RAG/embedding-prep chunking pass. Chunk i covers tokens
    ``[i*step, i*step + chunk_tokens)`` with ``step = chunk_tokens -
    overlap``; the final chunk may be short; a doc shorter than one
    chunk yields itself whole; token-less docs yield nothing.

    Narrow map + explode — no shuffle at any corpus size, and the
    output carries (id, chunk_idx, chunk_text, chunk_n_tokens) so a
    downstream embed stage never needs the original document. The
    token array is materialized first (HOF-capture rule, see
    winnow_fingerprints); each chunk is one ``slice`` of that
    attribute — O(chunk_tokens) per chunk, no re-tokenization."""
    if not 0 <= overlap < chunk_tokens:
        raise ValueError("need 0 <= overlap < chunk_tokens")
    step = chunk_tokens - overlap
    with_t = df.select(
        F.col(id_col),
        whitespace_tokens(F.col(text_col)).alias("_toks"),
    )
    toks = F.col("_toks")
    nt = F.size(toks)
    # number of chunks so the last chunk's start < nt:
    # ceil((nt-overlap)/step), floored at 1 — docs with <= overlap
    # tokens still yield one whole-doc chunk (and sequence() must
    # never see a negative upper bound: it would count DOWN).
    n_chunks = F.greatest(
        F.ceil((nt - F.lit(overlap)) / F.lit(step)).cast("long"), F.lit(1)
    )
    chunks = F.transform(
        F.sequence(F.lit(0), n_chunks - 1),
        lambda i: F.struct(
            i.alias("chunk_idx"),
            F.array_join(
                F.slice(toks, i * step + 1, chunk_tokens), " "
            ).alias("chunk_text"),
            F.least(nt - i * step, F.lit(chunk_tokens)).alias(
                "chunk_n_tokens"
            ),
        ),
    )
    # explode_outer + isnotnull: see repetition_signals — a plain
    # explode triggers InferFiltersFromGenerate, which re-inlines the
    # tokenizer + chunk transform into a pushed per-row filter.
    return (
        with_t.select(
            F.col(id_col),
            F.explode_outer(
                F.when(nt > 0, chunks).otherwise(F.array())
            ).alias("_c"),
        )
        .filter(F.col("_c").isNotNull())
        .select(
            id_col,
            F.col("_c.chunk_idx").alias("chunk_idx"),
            F.col("_c.chunk_text").alias("chunk_text"),
            F.col("_c.chunk_n_tokens").alias("chunk_n_tokens"),
        )
    )


def passage_dedup(
    df,
    text_col: str,
    id_col: str,
    passage_tokens: int = 64,
    skew_robust: bool = False,
):
    """Passage-level exact dedup with reassembly — the distributable
    form of exact duplicate-substring removal (Lee et al. 2022,
    "Deduplicating Training Data Makes Language Models Better"): split
    every document into non-overlapping ``passage_tokens``-token
    passages, keep only the globally FIRST occurrence of each distinct
    passage text (ordered by (doc_id, passage_idx)), drop every later
    repeat, and reassemble each document from its surviving passages
    in order. Removes cross-document boilerplate at passage
    granularity — the suffix-array substring walk the paper uses is
    inherently sequential; fixed passages are the shuffle-expressible
    form of the same signal.

    Scale: passage explode is a narrow map; canonical-occurrence
    choice is ONE shuffle — a window keyed by the passage hash
    (xxhash64: only keep/drop decisions depend on it, so the fast
    non-portable hash is safe — two-hash policy, see gram_hash64; the
    passage text must travel in the same shuffle anyway for
    reassembly); reassembly is one shuffle back on the doc id with an
    ordered in-group sort. A boilerplate passage repeated across the
    whole corpus makes one window group wide — same skew class as the
    gram-frequency window in duplicate_gram_stats; for a
    known-pathological corpus pass ``skew_robust=True``: the
    canonical occurrence is then a min-struct groupBy (map-side
    partial agg collapses each hot passage to ONE row per map task —
    bounded reduce input with no salt needed) joined back to mark
    keep/drop, and the hot JOIN key is splittable by AQE skew-join
    (windows are not, since they need the whole group on one task).
    Identical output either way; the window form saves a join in the
    common non-pathological case.

    Returns (id_col, clean_text, n_passages, n_dropped) — one row per
    input document, token-less documents included (empty clean_text).
    """
    from pyspark.sql import Window

    if passage_tokens <= 0:
        raise ValueError("passage_tokens must be positive")
    with_t = df.select(
        F.col(id_col), whitespace_tokens(F.col(text_col)).alias("_toks")
    )
    toks = F.col("_toks")
    nt = F.size(toks)
    n_pass = F.greatest(
        F.ceil(nt / F.lit(passage_tokens)).cast("long"), F.lit(1)
    )
    passages = F.transform(
        F.sequence(F.lit(0), n_pass - 1),
        lambda i: F.struct(
            i.alias("idx"),
            F.array_join(
                F.slice(toks, i * passage_tokens + 1, passage_tokens), " "
            ).alias("passage"),
        ),
    )
    # explode_outer (not explode): token-less docs must keep a row so
    # the output covers every input document — and it sidesteps the
    # InferFiltersFromGenerate re-evaluation trap (SCALE.md).
    exploded = with_t.select(
        F.col(id_col), F.explode_outer(passages).alias("_p")
    ).select(
        F.col(id_col),
        F.col("_p.idx").alias("_idx"),
        F.col("_p.passage").alias("_passage"),
    )
    if skew_robust:
        cand = exploded.withColumn("_h", F.xxhash64("_passage"))
        canon = cand.groupBy("_h").agg(
            F.min(F.struct(F.col(id_col).alias("i"), F.col("_idx").alias("x")))
            .alias("_c")
        )
        ranked = cand.join(canon, "_h").withColumn(
            "_rn",
            F.when(
                (F.col(id_col) == F.col("_c.i"))
                & (F.col("_idx") == F.col("_c.x")),
                F.lit(1),
            ).otherwise(F.lit(2)),
        )
    else:
        w = Window.partitionBy(F.xxhash64("_passage")).orderBy(id_col, "_idx")
        ranked = exploded.withColumn("_rn", F.row_number().over(w))
    kept_struct = F.when(
        F.col("_rn") == 1, F.struct(F.col("_idx"), F.col("_passage"))
    )
    return (
        ranked.groupBy(id_col)
        .agg(
            # collect_list skips the NULLs the when() leaves for
            # dropped passages; array_sort orders by _idx (first
            # struct field) for deterministic reassembly.
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(kept_struct)),
                    lambda s: s["_passage"],
                ),
                " ",
            ).alias("clean_text"),
            F.count("*").alias("n_passages"),
            F.sum((F.col("_rn") > 1).cast("long")).alias("n_dropped"),
        )
    )


def duplicate_span_removal(
    df,
    text_col: str,
    id_col: str,
    window_tokens: int = 16,
):
    """Sliding-window duplicate-SPAN removal — the stride-1 refinement
    of :func:`passage_dedup` (Lee et al. 2022's duplicate-substring
    removal): every ``window_tokens``-token window (stride 1, so a
    shared substring at ANY alignment is caught — fixed passages only
    catch aligned repeats), windows whose text also occurs in an
    EARLIER document (smaller id) are removable; each doc's removable
    windows merge into maximal covered spans, and the doc is rebuilt
    from the tokens outside them. Keep-first-doc policy: the earliest
    doc retains the span, every later doc sheds it — deterministic
    and engine-portable where the paper's suffix-array walk is
    inherently sequential. Within-doc self-repeats are NOT removed
    (that is repetition_signals' signal, a quality concern, not
    cross-doc dedup).

    Scale: window hashing is a narrow map over the token array
    (n - k + 1 windows/doc); the global first-occurrence pass is ONE
    min-over-hash window on the uniform md5 key (r16 — the old
    groupBy + join-back shape evaluated the whole window-hash explode
    TWICE, once per join side, and scanned the corpus three times; a
    partition-only analytic window attributes every (doc, pos) row in
    the same single pass, one exchange; a corpus-wide boilerplate
    window makes a hot PARTITION key — AQE-splittable on the
    exchange); span merging is a bounded per-doc window (rows =
    windows of ONE doc); rebuild is one join back to the corpus on
    the doc id. No suffix array, no global sort, no driver state.

    Output: (id_col, n_tokens, n_removed, clean_text) — one row per
    input doc; ``clean_text`` is whitespace-normalized (tokens
    rejoined with single spaces) exactly like passage_dedup's
    reassembly."""
    from pyspark.sql import Window

    from ulh_etl_spark.operators.fanout import fan_out

    if window_tokens <= 0:
        raise ValueError("window_tokens must be positive")
    # The md5-per-window explode (n-k+1 digests per doc) dominates;
    # conditional fan-out for 1-split inputs (r17 probe: q142
    # 1.19 s -> 0.54 s; no-op at real scale).
    df = fan_out(df)
    k = window_tokens
    with_t = df.select(
        F.col(id_col), whitespace_tokens(F.col(text_col)).alias("_toks")
    )
    toks = F.col("_toks")
    n_wins = F.size(toks) - F.lit(k - 1)
    wins = with_t.filter(n_wins > 0).select(
        F.col(id_col),
        F.explode(
            F.transform(
                F.sequence(F.lit(0), n_wins - 1),
                lambda p: F.struct(
                    p.alias("pos"),
                    F.md5(F.array_join(F.slice(toks, p + 1, k), " ")).alias(
                        "h"
                    ),
                ),
            )
        ).alias("_w"),
    ).select(id_col, F.col("_w.pos").alias("pos"), F.col("_w.h").alias("h"))
    wh = Window.partitionBy("h")
    removable = (
        wins.withColumn("_fd", F.min(id_col).over(wh))
        .filter(F.col(id_col) > F.col("_fd"))
        .select(id_col, "pos")
    )
    # gaps-and-islands: a window starts a new span iff it begins at or
    # after the running end of everything before it (all windows are
    # k long, so prev_end = prev max pos + k)
    wdoc = Window.partitionBy(id_col).orderBy("pos")
    prev_max = F.max("pos").over(
        wdoc.rowsBetween(Window.unboundedPreceding, -1)
    )
    spans = (
        removable.withColumn(
            "_new",
            F.when(
                prev_max.isNull() | (F.col("pos") >= prev_max + k), 1
            ).otherwise(0),
        )
        .withColumn(
            "_island",
            F.sum("_new").over(
                wdoc.rowsBetween(Window.unboundedPreceding, 0)
            ),
        )
        .groupBy(id_col, "_island")
        .agg(
            F.min("pos").cast("long").alias("s"),
            (F.max("pos") + F.lit(k)).cast("long").alias("e"),
        )
    )
    per_doc = spans.groupBy(id_col).agg(
        F.sort_array(F.collect_list(F.struct("s", "e"))).alias("_isl")
    )
    joined = with_t.join(per_doc, id_col, "left").withColumn(
        "_isl", F.coalesce("_isl", F.array().cast("array<struct<s:long,e:long>>"))
    )
    isl = F.col("_isl")
    positions = F.when(
        F.size(toks) > 0, F.sequence(F.lit(0), F.size(toks) - 1)
    ).otherwise(F.array().cast("array<int>"))
    kept = F.filter(
        positions,
        lambda p: ~F.exists(
            isl, lambda sp: (p >= sp["s"]) & (p < sp["e"])
        ),
    )
    n_removed = F.aggregate(
        isl, F.lit(0).cast("long"), lambda acc, sp: acc + (sp["e"] - sp["s"])
    )
    return joined.select(
        F.col(id_col),
        F.size(toks).cast("long").alias("n_tokens"),
        n_removed.alias("n_removed"),
        F.concat_ws(
            " ", F.transform(kept, lambda p: F.element_at(toks, p + 1))
        ).alias("clean_text"),
    )


def boilerplate_passage_filter(
    df,
    text_col: str,
    id_col: str,
    passage_tokens: int = 32,
    min_docs: int = 3,
):
    """Corpus-level boilerplate removal (CCNet / RefinedWeb line-wise
    dedup semantics, at passage granularity since the corpus has no
    line structure): any passage whose text occurs in >= ``min_docs``
    DISTINCT documents is boilerplate (nav bars, license headers,
    cookie banners) and is removed from EVERY document — unlike
    :func:`passage_dedup`, which keeps the first occurrence. Each doc
    is then reassembled from its surviving passages in order.

    Scale shape: passage explode is a narrow map; document frequency
    per passage is a two-level groupBy — first on ``(passage_hash,
    doc)`` (map-side partial agg collapses within-doc repeats, so a
    doc that repeats its own boilerplate contributes ONE row), then
    on ``passage_hash`` (input already one row per (passage, doc) —
    bounded). The frequency table joins back to the exploded passages
    on the hash; a corpus-wide boilerplate passage makes that key hot,
    but it is a JOIN key (AQE skew-split applies), not a window — the
    same reasoning as passage_dedup's skew_robust path. Reassembly is
    one shuffle on the doc id. xxhash64 is safe here (two-hash
    policy: only keep/drop decisions depend on it).

    Returns (id_col, clean_text, n_passages, n_dropped) — one row per
    input document, token-less documents included (empty clean_text).
    Known artifact (shared with passage_dedup's keep-a-row contract):
    a token-less doc emits one EMPTY passage, which participates in
    docfreq like any other — so >= min_docs empty docs count each
    other as "boilerplate" (n_dropped 1, clean_text still ''). Filter
    empty docs upstream if the n_dropped accounting matters.
    """
    if passage_tokens <= 0:
        raise ValueError("passage_tokens must be positive")
    if min_docs < 2:
        raise ValueError("min_docs < 2 would drop every passage")
    with_t = df.select(
        F.col(id_col), whitespace_tokens(F.col(text_col)).alias("_toks")
    )
    toks = F.col("_toks")
    nt = F.size(toks)
    n_pass = F.greatest(
        F.ceil(nt / F.lit(passage_tokens)).cast("long"), F.lit(1)
    )
    passages = F.transform(
        F.sequence(F.lit(0), n_pass - 1),
        lambda i: F.struct(
            i.alias("idx"),
            F.array_join(
                F.slice(toks, i * passage_tokens + 1, passage_tokens), " "
            ).alias("passage"),
        ),
    )
    # explode_outer + isNotNull filter: token-less docs keep a row,
    # and the InferFiltersFromGenerate re-evaluation trap is avoided
    # (see passage_dedup / chunk_documents).
    exploded = (
        with_t.select(F.col(id_col), F.explode_outer(passages).alias("_p"))
        .select(
            F.col(id_col),
            F.col("_p.idx").alias("_idx"),
            F.col("_p.passage").alias("_passage"),
        )
        .withColumn("_h", F.xxhash64("_passage"))
    )
    docfreq = (
        exploded.groupBy("_h", id_col)
        .agg(F.lit(1).alias("_one"))
        .groupBy("_h")
        .agg(F.count("*").alias("_df"))
        .filter(F.col("_df") >= min_docs)
        .select("_h", F.lit(True).alias("_boiler"))
    )
    marked = exploded.join(docfreq, "_h", "left")
    kept_struct = F.when(
        F.col("_boiler").isNull(), F.struct(F.col("_idx"), F.col("_passage"))
    )
    return (
        marked.groupBy(id_col)
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(kept_struct)),
                    lambda s: s["_passage"],
                ),
                " ",
            ).alias("clean_text"),
            F.count("*").alias("n_passages"),
            F.sum(F.col("_boiler").isNotNull().cast("long")).alias(
                "n_dropped"
            ),
        )
    )


def pack_sequences(
    df,
    text_col: str,
    id_col: str,
    ctx_len: int = 512,
    n_shards: int | None = None,
):
    """Deterministic sequence packing (concat-then-chunk): assign each
    document a (shard, pack_idx, offset) so a training reader can
    stream shard-ordered docs into fixed ``ctx_len``-token context
    windows — the GPT-style packing pass of an LM data pipeline.

    Shape: docs are salted-md5 sharded (stable, joinable — same trick
    as hash_split), then ONE window per shard computes the running
    token total before each doc; ``pack_idx`` is that offset div
    ctx_len (the window holding the doc's first token; a doc may
    straddle into the next window, which is the concat-then-chunk
    contract). Scale: the only shuffle is the per-shard window sort —
    parallelism = n_shards, so ``n_shards`` DEFAULTS to the cluster's
    ``defaultParallelism`` (a fixed small default would silently
    serialize a 100 TB pack onto that many tasks); pass it explicitly
    only when the number of output files is itself the contract.
    Each shard's running sum is a sequential scan, the same cost a
    single-threaded packer would pay per output file. NOT a global
    single-partition window.

    Output columns: id, shard, n_tokens, start_offset (tokens before
    this doc within its shard), pack_idx."""
    from pyspark.sql import Window

    if ctx_len <= 0:
        # fail at build time, not as a runtime DIVIDE_BY_ZERO in the
        # pack_idx expression (ANSI)
        raise ValueError("ctx_len must be positive")
    if n_shards is None:
        n_shards = df.sparkSession.sparkContext.defaultParallelism
    if n_shards <= 0:
        raise ValueError("n_shards must be positive")

    shard = (
        md5_hash32(
            F.concat(F.lit("pack"), F.lit("_"), F.col(id_col).cast("string"))
        )
        % n_shards
    )
    with_n = df.select(
        F.col(id_col),
        shard.alias("shard"),
        token_count(F.col(text_col)).cast("long").alias("n_tokens"),
    )
    w = Window.partitionBy("shard").orderBy(id_col)
    start = F.sum("n_tokens").over(w) - F.col("n_tokens")
    return with_n.select(
        id_col,
        "shard",
        "n_tokens",
        start.alias("start_offset"),
        F.floor(start / ctx_len).cast("long").alias("pack_idx"),
    )


def pack_utilization(packed, ctx_len: int = 512):
    """Per-shard packing summary from :func:`pack_sequences` output:
    total tokens, number of ``ctx_len`` windows consumed, and the
    padding fraction wasted in the final partial window — the number
    a data-loading team actually monitors. One partial-agged groupBy
    on the (tiny) shard key."""
    return (
        packed.groupBy("shard")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tokens").alias("total_tokens"),
        )
        .select(
            "shard",
            "n_docs",
            "total_tokens",
            F.ceil(F.col("total_tokens") / ctx_len).cast("long").alias("n_windows"),
            # Guard total_tokens == 0 (a shard whose docs are all
            # token-less): the denominator ceil(0/ctx)*ctx is 0, and
            # under ANSI mode (repo default) 0/0 raises DIVIDE_BY_ZERO
            # instead of returning a row. Zero tokens = zero windows =
            # zero padding.
            F.when(F.col("total_tokens") > 0,
                F.round(
                    (
                        F.ceil(F.col("total_tokens") / ctx_len) * ctx_len
                        - F.col("total_tokens")
                    ).cast("double")
                    / (F.ceil(F.col("total_tokens") / ctx_len) * ctx_len).cast(
                        "double"
                    ),
                    6,
                ),
            ).otherwise(F.lit(0.0)).alias("pad_frac"),
        )
    )


def winnow_fingerprints(df, text_col: str, id_col: str, k: int = 5, window: int = 4):
    """Winnowing (Schleimer et al., SIGMOD 2003): k-gram hashes, then
    the minimum hash in every sliding window of ``window`` positions —
    the standard local-fingerprint scheme for plagiarism/overlap
    detection. Guarantees any shared substring of length
    >= k + window - 1 contributes a shared fingerprint.

    Shape: pure array expressions, narrow map, no shuffle; the
    distinct explode emits only the selected fingerprints
    (~|text|/window per doc, not |text|).

    The sliding-window minimum is a chain of ``zip_with(m,
    slice(h, j+1, ...), least)`` over shift-by-j copies — every array
    a higher-order function touches is its own *argument*, never an
    outer capture. This matters enormously: an expression referenced
    from inside a HOF lambda body (e.g. ``transform(sequence(...),
    i -> array_min(slice(hashes, i, w)))``) is RE-EVALUATED per
    element, so the md5 hash array was recomputed for every window
    position — O(|text|²) md5 calls per doc, measured 90+ s for 500
    x 300-char docs at sf0.01 vs ~2 s for this shape. The hash array
    is also materialized as a named column in its own projection so
    CollapseProject keeps the (non-cheap, multiply-referenced)
    transform single-evaluation.

    ``zip_with`` pads the shorter side with NULL and ``least`` skips
    NULLs, so texts shorter than one window degrade to the min of
    their whole hash array (same degenerate semantics as the oracle's
    ``greatest(len - w + 1, 1)`` single window). Ties inside a window
    pick the same hash value either way, and fingerprints are emitted
    as a distinct set, so the result is order-insensitive and
    engine-portable.

    The md5-per-position work dominates, so an under-parallel input
    (one parquet split) is conditionally fanned out first — same rule
    as the dedup operators: never a blanket repartition, only when
    the scan has fewer splits than cores.
    """
    from ulh_etl_spark.operators.fanout import fan_out

    df = fan_out(df)
    with_h = df.select(
        F.col(id_col),
        F.transform(char_ngrams(F.col(text_col), k), md5_hash32).alias("_h"),
    )
    h = F.col("_h")
    n = F.size(h)
    m = h
    for j in range(1, window):
        m = F.zip_with(
            m,
            F.slice(h, j + 1, F.greatest(n - j, F.lit(0))),
            lambda a, b: F.least(a, b),
        )
    mins = F.slice(m, 1, F.greatest(n - (window - 1), F.lit(1)))
    # explode_outer: char_ngrams yields >= 1 gram for any text, so the
    # fingerprint array is never empty and outer == inner exactly —
    # but the outer form stops InferFiltersFromGenerate from pushing a
    # size()>0 filter that re-inlines the whole md5/zip_with chain as
    # a per-row Filter (2-4x duplicate evaluation).
    return with_h.select(
        F.col(id_col), F.explode_outer(F.array_distinct(mins)).alias("fp_hash")
    )


def unigram_logprob_scores(df, text_col: str, id_col: str):
    """CCNet-style language-model quality proxy: per-doc mean
    ln p(token) under the corpus unigram distribution. Low scores =
    rare-token soup (boilerplate, garbled text); high = common fluent
    vocabulary. The full method uses a pretrained KenLM; the corpus
    unigram model is the same pipeline shape (token explode ->
    vocabulary join -> per-doc mean) with a self-computed model.

    Scale: vocabulary = one partial-agged groupBy of the exploded
    corpus; the score join is on `term` (AQE broadcasts small vocabs);
    per-doc mean partial-aggregates. Token-less docs survive with
    NULL score (left join)."""
    toks = whitespace_tokens(F.lower(F.col(text_col)))
    # explode_outer + isnotnull (NOT plain explode): see SCALE.md —
    # the inferred size()>0 filter would re-tokenize every doc in a
    # pushed per-row Filter. The isnotnull guard keeps exact explode
    # semantics (token-less docs contribute no terms and no counts).
    exploded = (
        df.select(F.col(id_col), F.explode_outer(toks).alias("term"))
        .filter(F.col("term").isNotNull())
    )
    totals = exploded.groupBy("term").agg(F.count("*").alias("n"))
    grand = totals.agg(F.sum("n").alias("n_total"))
    vocab = totals.join(F.broadcast(grand)).select(
        "term",
        F.log(F.col("n") / F.col("n_total")).alias("logp"),
    )
    per_doc = (
        exploded.join(vocab, "term")
        .groupBy(id_col)
        .agg(F.round(F.avg("logp"), 6).alias("mean_logprob"))
    )
    return df.select(id_col).join(per_doc, id_col, "left")


def kneser_ney_bigram_scores(
    df, text_col: str, id_col: str, discount: float = 0.75
):
    """Interpolated Kneser-Ney bigram LM quality proxy (Kneser & Ney
    1995; the smoothing real KenLM-perplexity filters use, here at
    bigram order trained on the corpus itself — unigram_logprob_scores
    one order up): per-doc mean ln P_KN(w2|w1) with

        P_KN(w2|w1) = max(c(w1,w2) - d, 0)/c(w1·)
                      + (d · N1+(w1,·)/c(w1·)) · N1+(·,w2)/|bigram types|

    where c(w1·) is the count of bigram occurrences starting w1 (so
    the per-history distribution sums to 1 by construction),
    N1+(w1,·)/N1+(·,w2) are distinct continuation counts, and the
    continuation distribution is what distinguishes KN from naive
    backoff ('francisco' is frequent but only ever follows 'san').

    Scale shape: bigram explode is narrow; model relations are
    vocabulary/bigram-type-bounded groupBys (partial-agged); the
    grand type count is a 1-row agg CROSS JOINed in (broadcast, no
    collect); scoring re-joins doc bigrams on (w1,w2), w1, w2 — AQE
    broadcasts each while the model fits, shuffle-joins beyond. Docs
    with < 2 tokens survive with NULL score (left join)."""
    if not 0.0 < discount < 1.0:
        raise ValueError("discount must be in (0, 1)")
    toks_col = whitespace_tokens(F.lower(F.col(text_col)))
    with_t = df.select(F.col(id_col), toks_col.alias("_toks"))
    toks = F.col("_toks")
    nt = F.size(toks)
    bigram_arr = F.transform(
        F.sequence(F.lit(1), nt - 1),
        lambda i: F.struct(
            F.element_at(toks, i).alias("w1"),
            F.element_at(toks, i + 1).alias("w2"),
        ),
    )
    # guard BEFORE building (sequence counts DOWN below 2 tokens),
    # explode_outer to dodge InferFiltersFromGenerate re-evaluation
    bigrams = (
        with_t.select(
            F.col(id_col),
            F.explode_outer(
                F.when(nt > 1, bigram_arr).otherwise(F.array())
            ).alias("_b"),
        )
        .filter(F.col("_b").isNotNull())
        .select(id_col, F.col("_b.w1").alias("w1"), F.col("_b.w2").alias("w2"))
    )
    bc = bigrams.groupBy("w1", "w2").agg(F.count("*").alias("c12"))
    fw = bc.groupBy("w1").agg(
        F.sum("c12").alias("c1"), F.count("*").alias("n1p_fw")
    )
    bw = bc.groupBy("w2").agg(F.count("*").alias("n1p_bw"))
    types = bc.agg(F.count("*").alias("n_types"))
    d = F.lit(discount)
    model = (
        bc.join(fw, "w1")
        .join(bw, "w2")
        .join(F.broadcast(types))
        .select(
            "w1",
            "w2",
            F.log(
                F.greatest(F.col("c12") - d, F.lit(0.0)) / F.col("c1")
                + (d * F.col("n1p_fw") / F.col("c1"))
                * (F.col("n1p_bw") / F.col("n_types"))
            ).alias("logp"),
        )
    )
    per_doc = (
        bigrams.join(model, ["w1", "w2"])
        .groupBy(id_col)
        .agg(F.round(F.avg("logp"), 6).alias("mean_kn_logprob"))
    )
    return df.select(id_col).join(per_doc, id_col, "left")


def char_entropy(df, text_col: str, id_col: str):
    """Exact Shannon entropy (bits/char) of each document's character
    distribution — the information-density quality signal next to the
    zlib proxy (:func:`compression_ratio`): templated/repetitive text
    sits far below natural prose (~4 bits/char English), key-mashing
    noise above it. Unlike the zlib leg this is PURE SQL, so it is
    fully oracle-checkable.

    Float determinism: H = log2(n) - (sum_c count_c * log2(count_c))
    / n, and the sum folds over the per-char counts SORTED BY
    CHARACTER (array_sort + sequential F.aggregate), so both engines
    accumulate the identical doubles in the identical order — the
    same discipline as every dot-product oracle in the repo.

    Scale: explode chars -> one (id, char) groupBy -> one id groupBy
    (both uniform keys); the fold runs over <= |alphabet| entries per
    doc. Empty documents report NULL entropy (no distribution to
    measure).

    Unicode: Spark's ``split(col, "")`` yields CODE POINTS on this
    engine (a non-BMP char like an emoji stays one element, verified
    empirically and pinned by test), matching DuckDB's
    ``string_split(text, '')`` — no surrogate-half divergence
    (r11 ADVICE).

    Output: (id_col, n_chars_counted, entropy_bits)."""
    from ulh_etl_spark.operators.fanout import fan_out

    # The per-char explode is the corpus pass; conditional fan-out
    # for 1-split inputs (r17 probe 0.61 s -> 0.51 s; no-op at scale).
    df = fan_out(df)
    chars = df.select(
        F.col(id_col),
        F.explode(F.split(F.col(text_col), "")).alias("_ch"),
    ).filter(F.col("_ch") != "")
    counts = chars.groupBy(id_col, "_ch").agg(
        F.count("*").cast("long").alias("_c")
    )
    per_doc = counts.groupBy(id_col).agg(
        F.sum("_c").cast("long").alias("_n"),
        F.array_sort(
            F.collect_list(F.struct(F.col("_ch"), F.col("_c")))
        ).alias("_arr"),
    )
    term_sum = F.aggregate(
        F.col("_arr"),
        F.lit(0.0),
        lambda acc, s: acc
        + s["_c"].cast("double") * F.log2(s["_c"].cast("double")),
    )
    scored = per_doc.select(
        F.col(id_col),
        F.col("_n").alias("n_chars_counted"),
        F.round(
            F.log2(F.col("_n").cast("double"))
            - term_sum / F.col("_n").cast("double"),
            6,
        ).alias("entropy_bits"),
    )
    return df.select(id_col).join(scored, id_col, "left")


def compression_ratio(df, text_col: str, id_col: str, level: int = 6):
    """zlib compression ratio per document (compressed bytes / raw
    bytes) — the cheap entropy proxy quality pipelines use alongside
    Gopher rules: templated/repetitive text compresses far below
    natural prose, pure noise compresses above it. Deterministic
    (zlib is) but NOT SQL-expressible, so this is a rows-only catalog
    entry with exact pytest parity against direct zlib.

    Scale: the one Python hop is an Arrow-batched pandas UDF —
    per-batch vectorized dispatch, zlib in C per doc; everything
    around it stays a narrow map. Empty docs -> NULL."""
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    if not 0 <= level <= 9:
        raise ValueError("level must be in 0..9")

    @pandas_udf("double")
    def _ratio(s):  # type: ignore[no-untyped-def]
        import zlib

        def one(t):
            if t is None or t == "":
                return None
            b = t.encode("utf-8")
            return round(len(zlib.compress(b, level)) / len(b), 6)

        return s.map(one)

    return df.select(
        F.col(id_col), _ratio(F.col(text_col)).alias("compression_ratio")
    )


def needle_insert(df, text_col: str, id_col: str):
    """Long-context eval-data synthesis (needle-in-a-haystack prep):
    insert a marker token into each document at a deterministic
    salted-md5 depth fraction — the generator for retrieval-depth
    evals, where the needle's position must be uniform over depths
    AND exactly reproducible (no RNG: same corpus -> same needles,
    across runs and engines, so eval scores are comparable between
    training runs).

    Pure narrow map (tokenize, slice, concat). Returns (id,
    n_tokens — original count, depth_frac in [0, 1), needle_pos —
    0-based token index, text_with_needle — the needle token is
    ``XNEEDLEX``). Token-less docs get the
    needle alone at position 0."""
    with_t = df.select(
        F.col(id_col),
        whitespace_tokens(F.col(text_col)).alias("_toks"),
    )
    toks = F.col("_toks")
    nt = F.size(toks)
    frac = (
        md5_hash32(
            F.concat(F.lit("needle_"), F.col(id_col).cast("string"))
        )
        % 1000
    ) / F.lit(1000.0)
    pos = F.floor(frac * nt).cast("int")
    inserted = F.concat(
        F.slice(toks, 1, pos),
        F.array(F.lit("XNEEDLEX")),
        F.slice(toks, pos + 1, nt - pos),
    )
    return with_t.select(
        F.col(id_col),
        nt.cast("long").alias("n_tokens"),
        F.round(frac, 3).alias("depth_frac"),
        pos.alias("needle_pos"),
        F.array_join(inserted, " ").alias("text_with_needle"),
    )


def zipf_slope(df, text_col: str):
    """Corpus health audit: least-squares slope of the token
    rank-frequency curve in log-log space (natural text tracks Zipf's
    law, slope ~ -1; synthetic/templated/spammy corpora deviate
    sharply — a cheap distribution-level QA signal before training).

    Returns ONE row (n_terms, zipf_slope). Scale: the vocabulary
    groupBy is the only corpus-scale shuffle; ranking uses
    global_row_number (range repartition + driver offsets — NO
    single-partition window even at web-scale vocabularies); the
    slope is a closed-form aggregate of (ln rank, ln freq) sums."""
    from ulh_etl_spark.operators.rank import global_row_number

    vocab = (
        df.select(
            F.explode_outer(
                whitespace_tokens(F.lower(F.col(text_col)))
            ).alias("w")
        )
        .filter(F.col("w").isNotNull())
        .groupBy("w")
        .agg(F.count("*").alias("n"))
        .withColumn("_negn", -F.col("n"))
    )
    ranked = global_row_number(vocab, ["_negn", "w"], out_col="rnk")
    x = F.log(F.col("rnk").cast("double"))
    y = F.log(F.col("n").cast("double"))
    s = ranked.agg(
        F.count("*").alias("m"),
        F.sum(x).alias("sx"),
        F.sum(y).alias("sy"),
        F.sum(x * y).alias("sxy"),
        F.sum(x * x).alias("sxx"),
    )
    m = F.col("m").cast("double")
    # degenerate-vocabulary guard: with <= 1 distinct term the
    # least-squares denominator is exactly 0.0 (sx = sxx = ln 1 = 0)
    # — a hard DIVIDE_BY_ZERO under default ANSI mode. A one-term
    # corpus has no rank-frequency slope; emit NULL (mirrored in the
    # q123 oracle).
    denom = m * F.col("sxx") - F.col("sx") * F.col("sx")
    return s.select(
        F.col("m").cast("long").alias("n_terms"),
        F.when(
            denom != 0,
            F.round(
                (m * F.col("sxy") - F.col("sx") * F.col("sy")) / denom, 6
            ),
        ).alias("zipf_slope"),
    )


def contrastive_span_pairs(
    df, text_col: str, id_col: str, span_tokens: int = 16
):
    """Contrastive training-pair generation (the inverse-cloze /
    Contriever recipe): from every document long enough, two
    NON-OVERLAPPING token spans — span_a is the document head,
    span_b starts at a deterministic salted-md5 offset in the
    remainder — yielding (anchor, positive) pairs for a retrieval
    encoder without any labels. No RNG: same corpus -> same pairs,
    across runs and engines.

    Pure narrow map (tokenize + two slices); docs with fewer than
    2 * span_tokens tokens yield nothing. Returns (id, span_a,
    span_b, b_offset — the 0-based token offset of span_b)."""
    if span_tokens < 1:
        raise ValueError("span_tokens must be >= 1")
    with_t = df.select(
        F.col(id_col),
        whitespace_tokens(F.lower(F.col(text_col))).alias("_toks"),
    )
    toks = F.col("_toks")
    nt = F.size(toks)
    # offset range [span_tokens, nt - span_tokens]: md5-uniform pick
    span_range = nt - 2 * span_tokens + 1
    off = (
        F.lit(span_tokens)
        + md5_hash32(
            F.concat(F.lit("span_"), F.col(id_col).cast("string"))
        )
        % span_range
    )
    return (
        with_t.filter(nt >= 2 * span_tokens)
        .select(
            F.col(id_col),
            F.array_join(F.slice(toks, 1, span_tokens), " ").alias("span_a"),
            F.array_join(F.slice(toks, off + 1, span_tokens), " ").alias(
                "span_b"
            ),
            off.cast("long").alias("b_offset"),
        )
    )


LEET_FROM = "04135$@7"
LEET_TO = "oaless" + "at"


def blocklist_filter(df, text_col: str, id_col: str, blocklist: tuple):
    """Safety/blocklist prefilter with obfuscation folding: lowercase
    the text, fold common leet substitutions (0->o, 4->a, 1->l, 3->e,
    5->s, $->s, @->a, 7->t) so 'sp4m'/'$pam' still match 'spam',
    tokenize, and count blocklist hits per document. The blocklist
    must be pre-normalized (lowercase, unfolded). Returns (id,
    n_matches, matched — sorted comma-joined terms, keep).

    Scale: pure narrow map — translate + split + array_intersect are
    JVM expressions; the blocklist folds into an array literal (it is
    policy-sized, not data-sized). Zero shuffles; a match-term
    explode for per-term frequencies would be the only extension
    needing one."""
    if not blocklist:
        raise ValueError("blocklist must be non-empty")
    toks = whitespace_tokens(
        F.translate(F.lower(F.col(text_col)), LEET_FROM, LEET_TO)
    )
    bl = F.array(*[F.lit(t) for t in blocklist])
    matched = F.array_sort(F.array_intersect(F.array_distinct(toks), bl))
    # n_matches counts OCCURRENCES (policy wants volume, not just
    # presence): tokens retained in the blocklist set
    occ = F.size(F.filter(toks, _isin_pred(tuple(blocklist))))
    return df.select(
        F.col(id_col),
        occ.cast("long").alias("n_matches"),
        F.array_join(matched, ",").alias("matched"),
        (occ == 0).alias("keep"),
    )


GOPHER_STOPWORDS = ("the", "be", "to", "of", "and", "that", "have", "with")


def gopher_rules(df, text_col: str, id_col: str):
    """The Gopher rule-based quality filter (Rae et al. 2021,
    "Scaling Language Models", Table A1): per-document pass/fail
    flags for word count bounds (10..100000), mean word length bounds
    (3..10), symbol-to-word ratio (# and ellipsis, <= 0.1),
    alphabetic-word fraction (>= 0.8), and distinct-stopword presence
    (>= 2), plus the conjunctive ``keep``.
    Returned per-rule (not just the verdict) because curation tuning
    reads WHICH rule rejected.

    Scale: a pure narrow map — every signal is a JVM expression over
    one tokenization (no shuffle, no Python, no joins); ratio
    comparisons divide the same integers in any engine, so the flags
    are exactly reproducible in SQL."""
    toks = whitespace_tokens(F.col(text_col))
    low = whitespace_tokens(F.lower(F.col(text_col)))
    n_words = F.size(toks)
    n_safe = F.greatest(n_words, F.lit(1)).cast("double")
    tok_chars = F.aggregate(
        toks, F.lit(0).cast("long"), lambda acc, t: acc + F.length(t)
    )
    mean_word_len = tok_chars.cast("double") / n_safe
    n_symbols = F.size(
        F.regexp_extract_all(F.col(text_col), F.lit(r"\.\.\.|#"), 0)
    )
    n_alpha = F.size(F.filter(toks, lambda t: t.rlike("[A-Za-z]")))
    n_stop = F.size(
        F.array_intersect(
            F.array_distinct(low),
            F.array(*[F.lit(s) for s in GOPHER_STOPWORDS]),
        )
    )
    flags = {
        "word_count_ok": (n_words >= 10) & (n_words <= 100000),
        "mean_word_len_ok": (mean_word_len >= 3.0) & (mean_word_len <= 10.0),
        "symbol_ratio_ok": n_symbols.cast("double") / n_safe <= 0.1,
        "alpha_frac_ok": n_alpha.cast("double") / n_safe >= 0.8,
        "stopwords_ok": n_stop >= 2,
    }
    keep = None
    for c in flags.values():
        keep = c if keep is None else (keep & c)
    return df.select(
        F.col(id_col),
        n_words.cast("long").alias("n_words"),
        *[c.alias(name) for name, c in flags.items()],
        keep.alias("keep"),
    )


def dsir_importance(
    df,
    text_col: str,
    id_col: str,
    target_col: str,
    n_buckets: int = 1024,
):
    """DSIR importance weights (Xie et al. 2023, "Data Selection for
    Language Models via Importance Resampling"): per-document log
    importance weight ln p_target(x) - ln p_raw(x) under hashed
    bag-of-unigrams models — the standard recipe for selecting raw
    web data that "looks like" a high-quality target domain. Rows
    where boolean ``target_col`` holds define the target
    distribution; every row contributes to the raw distribution.
    Both models are add-one estimates over ``n_buckets``
    hashed token buckets; a document's weight is the sum of its
    tokens' bucket log-ratios. Resample/top-k downstream with
    weighted_sample_key(exp(score)) or a plain orderBy.

    Scale: token explode is a narrow map; BOTH histograms are ONE
    partial-agged groupBy of the exploded corpus (conditional sums,
    <= n_buckets output rows); the log-ratio model broadcasts (it is
    bounded by n_buckets REGARDLESS of vocabulary size — the reason
    DSIR hashes); the per-doc sum partial-aggregates. No self-join,
    no window, no Python. Token-less docs survive with NULL weight
    (left join), mirroring unigram_logprob_scores."""
    from ulh_etl_spark.operators.fanout import fan_out

    # The md5-per-token explode feeds both histograms and the per-doc
    # sum; under-parallel inputs run it on one core (conditional
    # fan-out — no-op once the scan has >= cores splits).
    df = fan_out(df)
    toks = whitespace_tokens(F.lower(F.col(text_col)))
    # explode_outer + isnotnull: see SCALE.md (inferred size()>0
    # filter would re-tokenize per row with plain explode).
    exploded = (
        df.select(
            F.col(id_col),
            F.col(target_col).alias("_t"),
            F.explode_outer(toks).alias("term"),
        )
        .filter(F.col("term").isNotNull())
        .select(
            id_col, "_t", (md5_hash32(F.col("term")) % n_buckets).alias("_b")
        )
    )
    hist = exploded.groupBy("_b").agg(
        F.sum(F.when(F.col("_t"), 1).otherwise(0)).alias("t_n"),
        F.count("*").alias("r_n"),
    )
    tot = hist.agg(F.sum("t_n").alias("t_tot"), F.sum("r_n").alias("r_tot"))
    s = 1.0  # add-one smoothing
    sb = s * n_buckets
    ratio = hist.join(F.broadcast(tot)).select(
        "_b",
        (
            F.log((F.col("t_n") + s) / (F.col("t_tot") + sb))
            - F.log((F.col("r_n") + s) / (F.col("r_tot") + sb))
        ).alias("_lr"),
    )
    per_doc = (
        exploded.join(F.broadcast(ratio), "_b")
        .groupBy(id_col)
        .agg(F.round(F.sum("_lr"), 6).alias("log_importance"))
    )
    return df.select(id_col).join(per_doc, id_col, "left")


def _gram_set(frame, text_col: str, id_col: str, n: int):
    """Per-row distinct character-n-gram hashes, exploded to
    (id, _g). explode_outer + isNotNull: avoids the inferred
    size()>0 filter duplicating the md5 gram pipeline per row
    (SCALE.md)."""
    return frame.select(
        F.col(id_col),
        F.explode_outer(
            F.array_distinct(
                F.transform(
                    char_ngrams(F.col(text_col), n),
                    lambda g: gram_hash64(g),
                )
            )
        ).alias("_g"),
    ).filter(F.col("_g").isNotNull())


def contamination_counts(
    corpus,
    benchmark,
    text_col: str,
    id_col: str,
    n: int = 8,
    min_shared: int = 3,
):
    """Benchmark decontamination: corpus docs sharing >= ``min_shared``
    distinct character ``n``-gram hashes with the benchmark set.
    Output: (id, n_shared) for flagged docs.

    Scale shape (how real decontamination runs): the benchmark gram
    set is tiny relative to the corpus — ONE distinct relation that
    broadcasts; the corpus side is a narrow explode joined against it
    (AQE broadcast), then a per-doc count. The corpus never
    self-joins and never shuffles its gram sets."""
    def gramset(frame):
        return _gram_set(frame, text_col, id_col, n)

    bench_grams = gramset(benchmark).select("_g").distinct()
    shared = (
        gramset(corpus)
        .join(F.broadcast(bench_grams), "_g")
        .groupBy(id_col)
        .agg(F.count("*").alias("n_shared"))
        .filter(F.col("n_shared") >= min_shared)
    )
    return shared


def bloom_contamination_counts(
    corpus,
    benchmark,
    text_col: str,
    id_col: str,
    n: int = 8,
    min_shared: int = 3,
    n_bits: int | None = None,
    n_hashes: int = 5,
):
    """Benchmark decontamination with a Bloom prefilter — identical
    OUTPUT to :func:`contamination_counts` (the exact join removes
    Bloom false positives), different engine path for the regime
    where the benchmark gram set is too big to broadcast raw:

    1. benchmark grams -> ``n_bits/8``-byte bitmap, broadcast
       once (operators.bloom — 1e9 grams at 1% FP is ~1.2 GB where
       the raw long set + join hash table is tens of GB);
    2. corpus grams probe the bitmap (Arrow-batched numpy — the only
       Python hop, vectorized) — survivors are true matches plus the
       FP trickle;
    3. exact verify: survivors SHUFFLE-join the benchmark grams
       (deliberately not broadcast — at this stage the corpus side is
       pruned to ~|matches|, so the shuffle is tiny; broadcasting
       here would reinstate the very footprint the Bloom removed),
       then the per-doc count as in contamination_counts.

    Exactness: Bloom has no false negatives, so step 3's join sees
    every true match; its equality predicate kills every false
    positive. pytest pins output parity with contamination_counts
    and the FP-rate bound; the shared oracle SQL is the exact
    formulation.

    ``n_bits=None`` (the default, r16) SELF-SIZES the bitmap to
    >= 10 bits per distinct benchmark gram (next power of two,
    floored at the former fixed 2^20) from one scalar count on the
    benchmark gram relation — the q177 policy: a fixed width
    silently saturates as the benchmark grows (fill -> 1 makes
    every corpus gram "survive" and step 3 degrades to the full
    join this operator exists to avoid). The count adds one
    benchmark-sized job next to the bitmap build's existing eager
    job; the OUTPUT is width-independent (step 3 kills FPs), so no
    oracle changes with the width."""
    import math

    from ulh_etl_spark.operators.bloom import bloom_probe, build_bloom
    from ulh_etl_spark.operators.fanout import fan_out

    # Both sides pay a per-gram hash explode before their first
    # exchange; a 1-split input runs that on one core (conditional
    # fan-out — no-op at real scale).
    corpus = fan_out(corpus)
    benchmark = fan_out(benchmark)
    bench_grams = _gram_set(benchmark, text_col, id_col, n).select("_g").distinct()
    if n_bits is None:
        n_grams = bench_grams.count()
        n_bits = max(
            1 << 20, 1 << math.ceil(math.log2(max(1, 10 * n_grams)))
        )
    bits = build_bloom(bench_grams, "_g", n_bits=n_bits, n_hashes=n_hashes)
    cand = (
        bloom_probe(_gram_set(corpus, text_col, id_col, n), "_g", bits, n_hashes)
        .filter(F.col("_in_bloom"))
        .drop("_in_bloom")
    )
    return (
        cand.join(bench_grams.hint("shuffle_hash"), "_g")
        .groupBy(id_col)
        .agg(F.count("*").alias("n_shared"))
        .filter(F.col("n_shared") >= min_shared)
    )


def bpe_merge_steps(df, text_col: str, n_merges: int = 6):
    """Byte-pair-encoding merge-table training (Sennrich et al. 2016
    — the tokenizer-induction pass of an LM pipeline): start from the
    character split of every distinct word, repeatedly find the
    most frequent adjacent symbol pair (weighted by word frequency;
    overlapping occurrences counted, classic formulation) and merge
    it greedily left-to-right in every word. Returns the merge table
    — (step, merge_left, merge_right, pair_count) — which IS the
    trained artifact a BPE tokenizer loads. Deterministic tie-break:
    (count DESC, left ASC, right ASC). No end-of-word marker
    (GPT-2-style; merges never cross word boundaries regardless).

    Scale shape: the corpus is read ONCE — the word-frequency groupBy
    (one corpus-scale shuffle, map-side partial agg). Every merge
    iteration then runs on the VOCABULARY relation, bounded by
    |distinct words| regardless of corpus size — the same reason
    real BPE trainers operate on the word histogram. Per step: one
    vocab-sized pair-count groupBy + a top-1 collect (a scalar per
    round, like kmeans_refine/connected_components) + a narrow fold
    re-merge. The vocab base is persisted so the corpus pass never
    re-runs. Symbols must not contain U+001F (the oracle's list
    encoding); whitespace tokens cannot.
    """
    if n_merges < 1:
        raise ValueError("n_merges must be >= 1")
    spark = df.sparkSession
    base = (
        df.select(
            F.explode(whitespace_tokens(F.lower(F.col(text_col)))).alias("w")
        )
        .groupBy("w")
        .agg(F.count("*").alias("cnt"))
        .withColumn("syms", F.split("w", ""))
        .persist()
    )
    words = base
    try:
        merges = []
        for step in range(n_merges):
            syms = F.col("syms")
            n = F.size(syms)
            pair_arr = F.transform(
                F.sequence(F.lit(1), n - 1),
                lambda i: F.struct(
                    F.element_at(syms, i).alias("l"),
                    F.element_at(syms, i + 1).alias("r"),
                ),
            )
            # guard BEFORE building: sequence(1, 0) counts DOWN (the
            # chunk_documents trap); single-symbol words have no pairs
            pairs = words.select(
                "cnt",
                F.explode(
                    F.when(n > 1, pair_arr).otherwise(F.array())
                ).alias("_p"),
            ).select("cnt", F.col("_p.l").alias("l"), F.col("_p.r").alias("r"))
            top = (
                pairs.groupBy("l", "r")
                .agg(F.sum("cnt").alias("pc"))
                .orderBy(F.desc("pc"), "l", "r")
                .limit(1)
                .collect()
            )
            if not top:
                break
            b = top[0]
            merges.append((step, b["l"], b["r"], int(b["pc"])))
            l, r = F.lit(b["l"]), F.lit(b["r"])
            merged = F.aggregate(
                syms,
                F.expr("array()").cast("array<string>"),
                lambda acc, s: F.when(
                    (F.size(acc) > 0)
                    & (F.element_at(acc, -1) == l)
                    & (s == r),
                    F.concat(
                        F.slice(acc, 1, F.size(acc) - 1),
                        F.array(F.concat(l, r)),
                    ),
                ).otherwise(F.concat(acc, F.array(s))),
            )
            words = words.withColumn("syms", merged)
        return local_frame(
            spark,
            merges,
            "step int, merge_left string, merge_right string, pair_count long",
        )
    finally:
        base.unpersist()


def apply_bpe(df, text_col: str, id_col: str, merges):
    """Tokenize with a trained BPE merge table (the other half of
    :func:`bpe_merge_steps`): per document, the whitespace token
    count and the BPE symbol count after applying every merge in
    step order — the real token accounting a packing/budget pass
    needs once the tokenizer is BPE, not whitespace.

    ``merges``: the merge-table DataFrame from bpe_merge_steps (or a
    list of (left, right) pairs) — driver-small by construction (one
    row per merge), collected and folded into the expression.

    Scale shape: merges apply on the VOCABULARY, not per token
    occurrence — distinct words (one corpus-scale groupBy) get the
    greedy fold chain (narrow), then documents re-join the vocab on
    the word (AQE broadcasts while the vocab fits, shuffle-joins
    beyond) and sum symbol counts per doc. A 100-merge tokenizer is
    100 chained folds over |vocab| rows — independent of corpus
    size. Token-less docs survive with (0, 0) via the left join."""
    if hasattr(merges, "collect"):
        rows = merges.orderBy("step").collect()
        pairs = [(r["merge_left"], r["merge_right"]) for r in rows]
    else:
        pairs = list(merges)
    toks = df.select(
        F.col(id_col),
        whitespace_tokens(F.lower(F.col(text_col))).alias("_toks"),
    )
    words = (
        toks.select(F.explode("_toks").alias("w")).distinct()
        .withColumn("syms", F.split("w", ""))
    )
    for left, right in pairs:
        l, r = F.lit(left), F.lit(right)
        words = words.withColumn(
            "syms",
            F.aggregate(
                F.col("syms"),
                F.expr("array()").cast("array<string>"),
                lambda acc, s: F.when(
                    (F.size(acc) > 0)
                    & (F.element_at(acc, -1) == l)
                    & (s == r),
                    F.concat(
                        F.slice(acc, 1, F.size(acc) - 1),
                        F.array(F.concat(l, r)),
                    ),
                ).otherwise(F.concat(acc, F.array(s))),
            ),
        )
    vocab = words.select("w", F.size("syms").alias("_ns"))
    agg = (
        toks.select(F.col(id_col), F.explode("_toks").alias("w"))
        .join(vocab, "w")
        .groupBy(id_col)
        .agg(
            F.count("*").alias("_ws"),
            F.sum("_ns").alias("_bpe"),
        )
    )
    return df.select(id_col).join(agg, id_col, "left").select(
        id_col,
        F.coalesce(F.col("_ws"), F.lit(0)).cast("long").alias("n_ws_tokens"),
        F.coalesce(F.col("_bpe"), F.lit(0)).cast("long").alias("n_bpe_tokens"),
    )


# ------------------------------------------------ unigram-LM tokenizer

# Word-analysis window and max piece length for the unigram trainer.
# Words are truncated to _UNI_W chars for segmentation (SentencePiece's
# max-sentence-length analogue); pieces span at most _UNI_L chars. The
# (s, e) span grid below is the complete candidate-edge set — generated
# once so the engine expressions and the SQL oracle enumerate the SAME
# spans in the SAME order.
_UNI_W = 12
_UNI_L = 4
_UNI_SPAN_COMBOS = tuple(
    (s, e)
    for e in range(1, _UNI_W + 1)
    for s in range(max(0, e - _UNI_L), e)
)


def _unigram_words(df, text_col: str):
    """Word histogram with the truncated analysis form: (w, cnt, wt,
    n). ONE corpus-scale pass (the same base as bpe_merge_steps);
    everything downstream is vocabulary-bounded."""
    return (
        df.select(
            F.explode(whitespace_tokens(F.lower(F.col(text_col)))).alias("w")
        )
        .groupBy("w")
        .agg(F.count("*").alias("cnt"))
        .withColumn("wt", F.substring("w", 1, _UNI_W))
        .withColumn("n", F.least(F.length("w"), F.lit(_UNI_W)))
    )


# The 42-entry span-struct array as ONE parsed SQL expression (the
# q60/q146 literal-folding lesson applied to the span grid): built as
# per-element F.when/F.struct/F.substring Columns it cost ~0.5-1.0 s
# of py4j + analysis per trainer invocation; the parsed string is a
# few ms and yields the IDENTICAL expression tree (verified
# exceptAll-empty both ways at sf0.1).
_UNI_SPANS_SQL = "explode_outer(array(" + ", ".join(
    f"CASE WHEN {e} <= n THEN struct({s} AS s, {e} AS e, "
    f"substring(wt, {s + 1}, {e - s}) AS piece) END"
    for s, e in _UNI_SPAN_COMBOS
) + "))"


def _unigram_spans(words):
    """All candidate piece spans of every distinct word: (w, cnt, wt,
    n, s, e, piece) with 1 <= e - s <= _UNI_L, e <= n. The span grid
    is a compile-time literal; out-of-range spans null out and drop.
    explode_outer, not explode: InferFiltersFromGenerate would turn a
    plain explode into a size() > 0 pre-filter re-evaluating the span
    array per row (the ivf_assign_queries pattern); the array is
    never empty (e=1 always valid)."""
    return (
        words.select(
            "w", "cnt", "wt", "n",
            F.expr(_UNI_SPANS_SQL).alias("_sp"),
        )
        .filter(F.col("_sp").isNotNull())
        .select(
            "w", "cnt", "wt", "n",
            F.col("_sp.s").alias("s"),
            F.col("_sp.e").alias("e"),
            F.col("_sp.piece").alias("piece"),
        )
    )


def _laplace_logp(counts):
    """Laplace-smoothed piece log-probs: logp = ln((c + 1) / (total +
    |V|)). Integer counts in, one division + one ln in a fixed order —
    the doubles are bit-identical in any SQL engine. The 1-row total
    rides the plan as a broadcast (lazy, no driver action)."""
    tot = counts.agg(
        F.sum("c").cast("long").alias("_t"),
        F.count("*").cast("long").alias("_v"),
    )
    return counts.crossJoin(F.broadcast(tot)).select(
        "piece",
        "c",
        F.log(
            (F.col("c") + F.lit(1)).cast("double")
            / (F.col("_t") + F.col("_v")).cast("double")
        ).alias("logp"),
    )


def _unigram_seed(spans, vocab_size: int):
    """Seed vocabulary: every single char (coverage guarantee — a
    word is always segmentable) plus the top ``vocab_size``
    multi-char substrings by weighted occurrence count (cnt DESC,
    piece ASC tie-break; TakeOrdered, no global shuffle). The FIXED
    piece budget is what keeps the trainer scale-safe: vocabulary
    size never grows with the corpus.

    The piece histogram is persisted (r16): it feeds both the char
    leg and the top-k leg, and the Laplace normalizer doubles each
    reference again — unpersisted, one seed evaluation aggregated
    the span relation 4x (lazy persist; |distinct pieces| rows)."""
    from pyspark.storagelevel import StorageLevel

    c0 = track(
        spans.groupBy("piece")
        .agg(F.sum("cnt").cast("long").alias("c"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    chars = c0.filter(F.length("piece") == 1)
    multi = (
        c0.filter(F.length("piece") >= 2)
        .orderBy(F.col("c").desc(), "piece")
        .limit(vocab_size)
    )
    return _laplace_logp(chars.unionByName(multi))


def _uni_lp_index_sql(s: str, e: str) -> str:
    """1-based index of span (s, e) in the _UNI_SPAN_COMBOS order
    (sorted by e then s), as a SQL fragment over runtime s/e:
    base(e) = e(e-1)/2 for e <= L+1, else L(L+1)/2 + L(e-L-1);
    offset = s - max(e - L, 0). Spliced into the DP fold below; the
    oracle never needs it (its spans stay relational)."""
    L = _UNI_L
    return (
        f"CAST(CASE WHEN {e} <= {L + 1} "
        f"THEN CAST(({e} - 1) * {e} / 2 AS INT) "
        f"ELSE {L * (L + 1) // 2} + {L} * ({e} - {L + 1}) END "
        f"+ ({s} - greatest({e} - {L}, 0)) + 1 AS INT)"
    )


# The whole E-step below the piece join as ONE SQL statement (span-
# score aggregation into the _UNI_SPAN_COMBOS-ordered array, the DP
# fold, the backtrace fold) — the same driver-cost motivation as
# connected_components' per-phase SQL: as chained Column builders the
# two folds plus 42 max(CASE) aggregates cost ~0.9-1.4 s of py4j +
# analysis PER segmentation call (two calls per trainer), vs ~0.2 s
# parsed. The parsed tree is expression-identical (exceptAll-empty
# both directions); array_max(cands) appears twice per DP step —
# once for .c, once for .g — exactly as the Column form duplicated
# the subtree.
_UNI_CANDS_SQL = (
    f"filter(transform(sequence(greatest(e - {_UNI_L}, 0), e - 1), "
    "s -> struct((element_at(acc.b, CAST(s + 1 AS INT)) "
    f"+ element_at(_lpa, {_uni_lp_index_sql('s', 'e')})) AS c, "
    "CAST(-s AS INT) AS g)), st -> st.c IS NOT NULL)"
)
_UNI_DP_SQL = (
    f"aggregate(CAST(sequence(1, {_UNI_W}) AS ARRAY<INT>), "
    "struct(array(CAST(0.0 AS DOUBLE)) AS b, "
    "CAST(array() AS ARRAY<INT>) AS k), "
    "(acc, e) -> struct("
    f"concat(acc.b, array(array_max({_UNI_CANDS_SQL}).c)) AS b, "
    f"concat(acc.k, array(CAST(-array_max({_UNI_CANDS_SQL}).g AS INT))) AS k))"
)
_UNI_BT_SQL = (
    f"aggregate(CAST(sequence(1, {_UNI_W}) AS ARRAY<INT>), "
    "struct(CAST(n AS INT) AS p, CAST(array() AS ARRAY<STRING>) AS ps), "
    "(acc, i) -> CASE WHEN acc.p > 0 THEN struct("
    "CAST(element_at(_dp.k, acc.p) AS INT) AS p, "
    "concat(acc.ps, array(substring(wt, element_at(_dp.k, acc.p) + 1, "
    "acc.p - element_at(_dp.k, acc.p)))) AS ps) ELSE acc END)"
)
_UNI_SEG_SQL = (
    "WITH g AS (SELECT w, cnt, wt, n, array("
    + ", ".join(
        f"max(CASE WHEN ((s = {s}) AND (e = {e})) THEN logp END)"
        for s, e in _UNI_SPAN_COMBOS
    )
    + ") AS _lpa FROM {sp} GROUP BY w, cnt, wt, n), "
    "d AS (SELECT w, cnt, wt, n, " + _UNI_DP_SQL + " AS _dp FROM g) "
    "SELECT w, cnt, (" + _UNI_BT_SQL + ").ps AS pieces FROM d"
)


def _viterbi_segmented(spans, vocab):
    """Hard-EM E-step: Viterbi-segment every distinct word under the
    current piece log-probs. Span scores aggregate into ONE
    _UNI_SPAN_COMBOS-ordered array column (one vocab broadcast join +
    one vocab-bounded groupBy — the round's ONLY exchange); the DP
    and the backtrace are then two ``F.aggregate`` folds over the
    analysis positions — a single LINEAR-size expression per word.
    (The unrolled-column formulation OOMed the optimizer:
    CollapseProject inlines each best_e into its four consumers, and
    a branching-4 depth-12 DP explodes to ~4^12 expression nodes.)

    DP fold: acc = (b: best scores with b[p+1] = best_p, so b[1] is
    the 0.0 base case; k: backpointers with k[e] = best split s for
    position e). Candidates at position e are s in [max(0, e-L),
    e-1]; cand = b[s+1] + lp[(s,e)]; null candidates (absent piece /
    past end of word) are filtered and array_max picks (score DESC,
    s ASC) via the (c, -s) struct ordering. Backtrace fold walks
    k from n down, emitting substr(wt, s+1, pos-s) per step.

    NULL arithmetic does the guarding end-to-end, with identical
    semantics in DuckDB — the oracle replays the same program as
    materialized CTE layers.

    Output: (w, cnt, pieces array<string>)."""
    sp = spans.join(F.broadcast(vocab.select("piece", "logp")), "piece")
    return sp.sparkSession.sql(_UNI_SEG_SQL, sp=sp)


def _viterbi_counts(segmented):
    return (
        segmented.select("cnt", F.explode("pieces").alias("piece"))
        .groupBy("piece")
        .agg(F.sum("cnt").cast("long").alias("c"))
    )


def _refresh_vocab(counts, chars):
    """M-step + prune: pieces the Viterbi pass used keep their counts;
    unused pieces drop EXCEPT single chars (kept at count 0 for
    coverage); probabilities re-estimate with the same Laplace
    smoothing."""
    base = counts.join(chars, "piece", "full_outer").select(
        "piece", F.coalesce(F.col("c"), F.lit(0)).cast("long").alias("c")
    )
    return _laplace_logp(base)


def unigram_lm_train(df, text_col: str, vocab_size: int = 512, rounds: int = 2):
    """Unigram-LM tokenizer trainer (Kudo 2018, "Subword
    regularization" — the SentencePiece unigram model), hard-EM
    variant: seed a substring vocabulary from one corpus pass, then
    alternate Viterbi segmentation of the word histogram (E-step)
    with count re-estimation + pruning (M-step) for a fixed number of
    rounds. The Viterbi DP is exact maximum-likelihood segmentation
    under the current unigram probabilities; hard (1-best) counts
    instead of the paper's forward-backward expectations keep every
    number integer-or-fixed-expression so a SQL oracle replays the
    training bit-for-bit. Completes the tokenizer pair next to
    bpe_merge_steps — BPE grows a vocab bottom-up by merging, unigram
    shrinks one top-down by pruning, the duality dominant in practice.

    Scale: ONE corpus-scale shuffle (the word histogram — same base
    as BPE); the span grid, pivots, DP columns, and per-round count
    aggregations are all bounded by |distinct words| x 42 spans and a
    FIXED vocab budget, regardless of corpus size. No driver-side
    collect anywhere — the whole training is one lazy plan (the
    rounds are plan layers, not jobs), unlike BPE's per-merge top-1
    collect.

    Output: (piece, piece_len, viterbi_count, logp) — the final
    vocabulary with its last-round Viterbi usage counts and smoothed
    log-probs (the trained artifact a unigram tokenizer loads).
    ``rounds`` counts E-steps: rounds=2 = seed -> segment -> reprune
    -> segment."""
    if rounds < 1:
        raise ValueError("rounds must be >= 1")
    from pyspark.storagelevel import StorageLevel

    words = _unigram_words(df, text_col)
    spans = track(_unigram_spans(words).persist(StorageLevel.MEMORY_AND_DISK))
    chars = spans.filter(F.length("piece") == 1).select("piece").distinct()
    # r16: persist every vocab-bounded round artifact. Each vocab is
    # referenced >= 2x downstream (the Laplace total's crossJoin and
    # the next round's broadcast — and the LAST one also feeds the
    # output join), and without a persist each reference re-expands
    # the ENTIRE upstream chain (seed -> segment -> counts ...):
    # measured at sf0.1 the final plan evaluated the giant Viterbi
    # fold subtree 4x. The persisted frames are <= vocab_size +
    # |alphabet| rows — storage cost is nil, and the training stays
    # one lazy plan (persist is lazy; no driver collect).
    vocab = track(
        _unigram_seed(spans, vocab_size).persist(
            StorageLevel.MEMORY_AND_DISK
        )
    )
    for _ in range(rounds - 1):
        seg = _viterbi_segmented(spans, vocab)
        counts = track(
            _viterbi_counts(seg).persist(StorageLevel.MEMORY_AND_DISK)
        )
        vocab = track(
            _refresh_vocab(counts, chars).persist(
                StorageLevel.MEMORY_AND_DISK
            )
        )
    final_counts = _viterbi_counts(_viterbi_segmented(spans, vocab)).select(
        "piece", F.col("c").alias("_fc")
    )
    return vocab.join(final_counts, "piece", "left").select(
        "piece",
        F.length("piece").cast("int").alias("piece_len"),
        F.coalesce(F.col("_fc"), F.lit(0)).cast("long").alias("viterbi_count"),
        F.round("logp", 6).alias("logp"),
    )


def unigram_fertility(
    df, text_col: str, id_col: str, vocab_size: int = 512, rounds: int = 2
):
    """Tokenize the corpus with the trained unigram vocabulary:
    per-doc whitespace vs unigram-piece token counts — apply_bpe's
    exact shape, so fertility is directly comparable across the two
    trained tokenizers (q116 vs this). Segmentation happens once per
    DISTINCT word (the Viterbi relation); docs re-join on the word."""
    from pyspark.storagelevel import StorageLevel

    words = _unigram_words(df, text_col)
    spans = track(_unigram_spans(words).persist(StorageLevel.MEMORY_AND_DISK))
    chars = spans.filter(F.length("piece") == 1).select("piece").distinct()
    # r16: same per-round persists as unigram_lm_train (see the note
    # there) — each vocab-bounded artifact is multiply referenced and
    # would otherwise re-expand the whole training chain per use.
    vocab = track(
        _unigram_seed(spans, vocab_size).persist(
            StorageLevel.MEMORY_AND_DISK
        )
    )
    for _ in range(rounds - 1):
        seg = _viterbi_segmented(spans, vocab)
        counts = track(
            _viterbi_counts(seg).persist(StorageLevel.MEMORY_AND_DISK)
        )
        vocab = track(
            _refresh_vocab(counts, chars).persist(
                StorageLevel.MEMORY_AND_DISK
            )
        )
    per_word = _viterbi_segmented(spans, vocab).select(
        "w", F.size("pieces").cast("long").alias("_np")
    )
    toks = df.select(
        F.col(id_col),
        F.explode(whitespace_tokens(F.lower(F.col(text_col)))).alias("w"),
    )
    agg = (
        toks.join(per_word, "w")
        .groupBy(id_col)
        .agg(F.count("*").alias("_ws"), F.sum("_np").alias("_uni"))
    )
    return df.select(id_col).join(agg, id_col, "left").select(
        id_col,
        F.coalesce(F.col("_ws"), F.lit(0)).cast("long").alias("n_ws_tokens"),
        F.coalesce(F.col("_uni"), F.lit(0))
        .cast("long")
        .alias("n_unigram_tokens"),
    )


def length_bucket_batches(
    df,
    text_col: str,
    id_col: str,
    probs=(0.25, 0.5, 0.75),
    sketch_k: int = 256,
    batch_size: int = 32,
):
    """Length-bucketed inference batching: bucket documents by token
    count at the corpus quantiles, then chunk each bucket into
    fixed-size batches in deterministic id order — the standard
    padding-minimization layout for batched inference/embedding jobs
    (a batch of like-length docs pads to its own max, not the corpus
    max). The bucket BOUNDARIES come from the mergeable quantile
    sketch (sketch.quantile_sample_registers + estimates over the
    per-doc token counts), so at 100 TB the boundary pass reads k
    sample rows from the at-rest register table instead of sorting
    the corpus — and the whole layout is reproducible because the
    sketch is hash-deterministic.

    bucket(doc) = number of boundary estimates strictly below the
    doc's token count (0..len(probs)); batch_id = 0-based chunk index
    of row_number within the bucket ordered by id. One shuffle for
    the bucket window (len(probs)+1 partitions x even hash spread —
    for heavy skew raise len(probs)).

    Output: (id_col, n_tokens, bucket, batch_id)."""
    from ulh_etl_spark.operators.sketch import (
        quantile_sample_registers,
        quantile_sketch_estimates,
    )
    from pyspark.sql import Window

    per = df.select(
        F.col(id_col),
        token_count(F.col(text_col)).cast("long").alias("n_tokens"),
    )
    reg = quantile_sample_registers(per, "n_tokens", id_col, k=sketch_k)
    est = quantile_sketch_estimates(reg, probs)
    bucketed = (
        per.crossJoin(F.broadcast(est))
        .groupBy(id_col, "n_tokens")
        .agg(
            F.sum(
                F.when(
                    F.col("n_tokens").cast("double") > F.col("estimate"), 1
                ).otherwise(0)
            )
            .cast("int")
            .alias("bucket")
        )
    )
    w = Window.partitionBy("bucket").orderBy(id_col)
    return bucketed.withColumn(
        "batch_id",
        F.floor(
            (F.row_number().over(w) - F.lit(1)) / F.lit(batch_size)
        ).cast("long"),
    )


def repetition_signals(df, text_col: str, id_col: str):
    """Gopher-style within-document repetition signals:

    - ``ttr`` — type-token ratio (distinct/total tokens); low = loops.
      Pure array expression, narrow map.
    - ``top_bigram_frac`` — share of the most frequent word bigram;
      high = stuck phrase repetition. Explode -> partial-agged
      groupBy(doc, bigram) -> per-doc max: linear in corpus tokens
      with map-side combine. (The all-array alternative — count each
      distinct bigram by filtering the bigram array — is O(tokens²)
      PER DOC: measured 53 s vs 3 s at sf0.01 for the same result,
      and it would be quadratically worse on book-length docs.)

    Token-less docs emit NULL ttr; docs with < 2 tokens emit NULL
    top_bigram_frac (left join keeps them).

    The token array is materialized as its own column BEFORE the
    bigram transform references it: an expression captured inside a
    HOF lambda body is re-evaluated per element, so inlining the
    split would re-tokenize the document once per bigram position
    (O(tokens²) splits/doc)."""
    with_t = df.select(
        F.col(id_col),
        whitespace_tokens(F.lower(F.col(text_col))).alias("_toks"),
    )
    toks = F.col("_toks")
    nt = F.size(toks)
    ttr = F.round(
        F.size(F.array_distinct(toks)).cast("double") / nt.cast("double"), 6
    )
    bigrams = F.transform(
        F.sequence(F.lit(1), nt - 1),
        lambda i: F.concat_ws(" ", F.element_at(toks, i), F.element_at(toks, i + 1)),
    )
    base = with_t.select(
        F.col(id_col),
        F.when(nt > 0, ttr).alias("ttr"),
        nt.alias("_nt"),
        # Guard BEFORE materializing: for nt < 2, sequence(1, nt-1)
        # counts DOWN through 0 and element_at errors under ANSI (the
        # old all-array form never evaluated bigrams for such rows
        # because `when` is lazy).
        F.when(nt > 1, bigrams).otherwise(F.array()).alias("_bigrams"),
    )
    # explode_OUTER, deliberately: a plain explode lets Catalyst's
    # InferFiltersFromGenerate push a `size(bigrams) > 0` filter BELOW
    # the materializing projections, re-inlining the whole tokenizer +
    # bigram transform into a per-row Filter — which resurrects the
    # O(tokens²) re-evaluation this function is shaped to avoid
    # (measured: 11.8 s -> 0.6 s at sf0.1). The null row an empty doc
    # emits aggregates to (_top=1, _n_bigrams=1) and is then discarded
    # by the `_nt > 1` guard, so the output is identical.
    top = (
        base.select(F.col(id_col), F.explode_outer("_bigrams").alias("_bg"))
        .groupBy(id_col, "_bg")
        .agg(F.count("*").alias("_c"))
        .groupBy(id_col)
        .agg(F.max("_c").alias("_top"), F.sum("_c").alias("_n_bigrams"))
    )
    return (
        base.join(top, id_col, "left")
        .select(
            F.col(id_col),
            "ttr",
            F.when(
                F.col("_nt") > 1,
                F.round(
                    F.col("_top").cast("double")
                    / F.col("_n_bigrams").cast("double"),
                    6,
                ),
            ).alias("top_bigram_frac"),
        )
    )


# --- corpus-level term statistics (TF-IDF / BM25) -------------------
#
# Scale shape: the exploded (doc, term) relation is the big
# intermediate — |corpus tokens| rows — but it's produced by a narrow
# map + explode (no pre-shuffle) and immediately partial-aggregated,
# so the shuffle carries |doc x distinct-term| rows. The vocabulary
# table (term -> df) is the agg of that relation: small enough to
# broadcast for most corpora; left unhinted so AQE decides (a 100 TB
# web corpus vocabulary can exceed broadcast limits, and then the
# shuffle join on `term` is the right plan anyway).


def term_frequencies(df, text_col: str, id_col: str):
    """(id, term, tf) over lowercased whitespace tokens."""
    toks = whitespace_tokens(F.lower(F.col(text_col)))
    # explode_outer + isnotnull: see SCALE.md (inferred-filter
    # re-tokenization); exact explode semantics preserved.
    return (
        df.select(F.col(id_col), F.explode_outer(toks).alias("term"))
        .filter(F.col("term").isNotNull())
        .groupBy(id_col, "term")
        .agg(F.count("*").alias("tf"))
    )


def tfidf(df, text_col: str, id_col: str):
    """Smoothed TF-IDF per (doc, term):
    ``tf * ln((N + 1) / (df + 1))``, rounded to 6 — the rounding is
    the cross-engine float tolerance, not semantics."""
    tf = term_frequencies(df, text_col, id_col)
    dfreq = tf.groupBy("term").agg(F.count("*").alias("df"))
    n_docs = df.select(F.count("*").alias("n_docs"))
    return (
        tf.join(dfreq, "term")
        .join(F.broadcast(n_docs))
        .select(
            F.col(id_col),
            "term",
            "tf",
            F.round(
                F.col("tf")
                * F.log((F.col("n_docs") + 1.0) / (F.col("df") + 1.0)),
                6,
            ).alias("tfidf"),
        )
    )


def _eq_pred(term: str):
    # closure capture, not lambda defaults (PySpark infers lambda
    # arity from the parameter count)
    return lambda t: t == term


# The standard BM25 term-saturation and length-normalization constants.
_BM25_K1 = 1.2
_BM25_B = 0.75


def bm25_scores(df, text_col: str, id_col: str, query_terms: tuple[str, ...]):
    """BM25 score of every document against a fixed bag of query
    terms (Robertson/Sparck-Jones idf; docs matching no term score 0
    — tf=0 zeroes the term weight naturally, no outer join needed).

    Shape (the fixed-query-bag advantage): per-term tf is an array
    expression per document — a pure narrow map, no explode, no
    (doc, term) shuffle. The ONLY shuffle is the one global stats
    aggregate (n_docs, avgdl, per-term df — all partial-aggregated),
    whose 1-row result broadcasts back over the corpus. Two passes
    over the data, one shuffle of one row, at any corpus size.
    An earlier explode/groupBy/join formulation ran 6 shuffles
    (PLAN_AUDIT MANY_SHUFFLES) for identical results.
    """
    toks = whitespace_tokens(F.lower(F.col(text_col)))
    base = df.select(
        F.col(id_col),
        F.size(toks).alias("dl"),
        *[
            F.size(F.filter(toks, _eq_pred(t))).alias(f"_tf_{i}")
            for i, t in enumerate(query_terms)
        ],
    )
    stats = base.agg(
        F.count("*").alias("n_docs"),
        F.avg("dl").alias("avgdl"),
        *[
            F.sum((F.col(f"_tf_{i}") > 0).cast("long")).alias(f"_df_{i}")
            for i in range(len(query_terms))
        ],
    )
    joined = base.join(F.broadcast(stats))
    score = F.lit(0.0)
    for i in range(len(query_terms)):
        tf = F.col(f"_tf_{i}").cast("double")
        dfc = F.col(f"_df_{i}")
        idf = F.log(
            1.0 + (F.col("n_docs") - dfc + 0.5) / (dfc + 0.5)
        )
        score = score + idf * (
            tf
            * (_BM25_K1 + 1.0)
            / (
                tf
                + _BM25_K1
                * (1.0 - _BM25_B + _BM25_B * F.col("dl") / F.col("avgdl"))
            )
        )
    return joined.select(F.col(id_col), F.round(score, 6).alias("bm25"))


def dirichlet_qlm_scores(
    df,
    text_col: str,
    id_col: str,
    query_terms: tuple[str, ...],
    mu: float = 2000.0,
):
    """Query-likelihood retrieval with Dirichlet smoothing (Zhai &
    Lafferty 2001) — the language-modeling sibling of
    :func:`bm25_scores`: score = sum over query terms of
    ln((tf + mu * ctf/|C|) / (dl + mu)). Smoothing gives every
    document a finite score even with zero term hits, so the ranking
    is total (BM25 collapses all no-hit docs to 0).

    Same fixed-query-bag shape as bm25_scores: per-term tf is an
    array expression per document (pure narrow map, no explode), the
    only shuffle is the one partial-aggregated global stats row
    (collection tf per term + total collection tokens) broadcast
    back over the corpus. Two passes, one 1-row shuffle, any scale.
    """
    from ulh_etl_spark.operators.fanout import fan_out

    # Tokenize + per-term tf runs before any exchange on BOTH passes;
    # conditional fan-out for 1-split inputs (r17 probe: q165
    # 0.64 s -> 0.25 s; no-op at real scale).
    df = fan_out(df)
    toks = whitespace_tokens(F.lower(F.col(text_col)))
    base = df.select(
        F.col(id_col),
        F.size(toks).alias("dl"),
        *[
            F.size(F.filter(toks, _eq_pred(t))).alias(f"_tf_{i}")
            for i, t in enumerate(query_terms)
        ],
    )
    stats = base.agg(
        F.sum("dl").alias("_ctot"),
        *[
            F.sum(f"_tf_{i}").alias(f"_ctf_{i}")
            for i in range(len(query_terms))
        ],
    )
    joined = base.join(F.broadcast(stats))
    score = F.lit(0.0)
    for i in range(len(query_terms)):
        tf = F.col(f"_tf_{i}").cast("double")
        p_c = F.col(f"_ctf_{i}").cast("double") / F.col("_ctot").cast("double")
        score = score + F.log(
            (tf + F.lit(mu) * p_c) / (F.col("dl").cast("double") + F.lit(mu))
        )
    return joined.select(F.col(id_col), F.round(score, 6).alias("qlm_score"))


def unimax_allocation(
    df,
    text_col: str,
    group_col: str,
    budget_num: int = 19,
    budget_den: int = 20,
    epoch_cap: int = 1,
):
    """UniMax source mixing (Chung et al. 2023, "UniMax: Fairer and
    More Effective Language Sampling for Large-Scale Multilingual
    Pretraining"): distribute a token budget UNIFORMLY over sources,
    capping each source at ``epoch_cap`` epochs of its own mass —
    waterfilling. Sources below the waterline contribute everything
    they have; the rest split the remaining budget evenly. The
    budget is ``total_mass * budget_num DIV budget_den`` so the
    allocation is scale-free.

    Bit-stable closed form (same integer-math discipline as
    :func:`temperature_budget_mix`): sort sources by cap ascending
    with prefix sums P_i; source i is capped iff
    ``cap_i * (S - i) <= B - P_i`` (the capped set is a prefix), k =
    the largest such i, waterline = ``(B - P_k) DIV (S - k)``. Every
    comparison and the waterline are integer ops — no float
    summation order anywhere; only the reported ``epochs`` ratio
    divides doubles (one division, IEEE-identical cross-engine).

    Shape: one partial-agged groupBy collapses the corpus to the
    PER-SOURCE relation (bounded by source count — dozens to a few
    thousand sources/languages in practice, never corpus-sized);
    the whole waterfill then runs as window functions over that one
    small relation in a single pass — one corpus scan, one corpus
    shuffle, one single-partition window on the tiny aggregate (the
    global sort the waterfill needs, over #sources rows only).

    Output per source: (group, token_mass, cap_tokens, alloc_tokens,
    epochs)."""
    from pyspark.sql import Window

    if budget_num <= 0 or budget_den <= 0 or epoch_cap <= 0:
        raise ValueError("budget_num, budget_den, epoch_cap must be positive")
    masses = df.select(
        F.col(group_col), token_count(F.col(text_col)).cast("long").alias("_t")
    ).groupBy(group_col).agg(F.sum("_t").alias("token_mass"))
    wall = Window.partitionBy()
    ordw = Window.orderBy("cap_tokens", group_col)
    flagged = (
        masses.withColumn(
            "cap_tokens", (F.col("token_mass") * epoch_cap).cast("long")
        )
        .withColumn("_s", F.count("*").over(wall).cast("long"))
        .withColumn(
            "_b",
            F.expr(
                f"CAST(SUM(token_mass) OVER () * {budget_num} "
                f"DIV {budget_den} AS BIGINT)"
            ),
        )
        .withColumn("_i", F.row_number().over(ordw).cast("long"))
        .withColumn("_p", F.sum("cap_tokens").over(ordw))
        .withColumn(
            "_capped",
            F.col("cap_tokens") * (F.col("_s") - F.col("_i"))
            <= F.col("_b") - F.col("_p"),
        )
    )
    out = flagged.withColumn(
        "_k",
        F.max(F.when(F.col("_capped"), F.col("_i")).otherwise(F.lit(0)))
        .over(wall)
        .cast("long"),
    ).withColumn(
        "_pk",
        F.max(F.when(F.col("_capped"), F.col("_p")).otherwise(F.lit(0)))
        .over(wall)
        .cast("long"),
    ).withColumn(
        "alloc_tokens",
        F.when(F.col("_i") <= F.col("_k"), F.col("cap_tokens")).otherwise(
            F.expr("CAST((_b - _pk) DIV (_s - _k) AS BIGINT)")
        ),
    )
    return out.select(
        group_col,
        "token_mass",
        "cap_tokens",
        "alloc_tokens",
        F.round(
            F.col("alloc_tokens").cast("double")
            / F.col("token_mass").cast("double"),
            6,
        ).alias("epochs"),
    )


# PII redaction patterns, applied in order (email first: its local
# part may contain digit runs the later numeric patterns would
# otherwise see). Java regex (Spark) and RE2 (DuckDB) agree on this
# subset — character classes, bounded repeats, \b word boundaries.
PII_PATTERNS: tuple[tuple[str, str], ...] = (
    ("<EMAIL>", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"),
    ("<SSN>", r"\b\d{3}-\d{2}-\d{4}\b"),
    ("<PHONE>", r"\b\d{3}[-.]\d{3}[-.]\d{4}\b"),
)


def redact_pii(text) -> "F.Column":
    """Replace email/SSN/phone spans with typed placeholder tags —
    the standard pre-training PII scrub stage. Pure chained
    ``regexp_replace`` (JVM codegen, narrow map, no shuffle at any
    corpus size)."""
    out = text
    for tag, pattern in PII_PATTERNS:
        out = F.regexp_replace(out, pattern, tag)
    return out


def pii_count(text) -> "F.Column":
    """Number of PII spans in the ORIGINAL text (each pattern counted
    independently, pre-redaction — the monitoring number reported
    alongside the scrub)."""
    total = F.lit(0)
    for _tag, pattern in PII_PATTERNS:
        total = total + F.size(F.regexp_extract_all(text, F.lit(pattern), F.lit(0)))
    return total


def pmi_bigrams(df, text_col: str, min_count: int = 5):
    """Pointwise mutual information of adjacent word pairs — the
    collocation statistic behind phrase detection (word2vec-style
    "new_york" merging) and boilerplate-phrase discovery; raw bigram
    counts (top_ngrams) rank frequency, PMI ranks ASSOCIATION:
    pmi(a,b) = ln( (c_ab / N_bi) / ((c_a/N_uni) * (c_b/N_uni)) ).

    All inputs are integer counts; the PMI itself is ONE fixed-order
    double expression — written as
    ln((c_ab * N_uni * N_uni) / (N_bi * c_a * c_b)) in exactly this
    association order engine- and oracle-side — so the only float
    step is replayed bit-for-bit.

    Scale: tokenize once, two partial-agged groupBys (unigrams,
    bigrams), two scalar totals computed as 1-row aggregates
    cross-joined back (never collected), and two vocabulary-keyed
    joins of the (min_count-filtered) bigram relation against the
    unigram relation — AQE broadcasts the unigram side when it
    fits, shuffles on the Zipf-hot term key otherwise (skew split).

    Output: (w1, w2, n_pair, pmi) for bigrams with
    n_pair >= min_count."""
    with_t = df.select(
        whitespace_tokens(F.lower(F.col(text_col))).alias("_toks")
    )
    toks = F.col("_toks")
    uni = (
        with_t.select(F.explode(toks).alias("w"))
        .groupBy("w")
        .agg(F.count("*").alias("_c"))
    )
    n_uni = uni.agg(F.sum("_c").cast("double").alias("_nu"))
    grams = F.transform(
        F.sequence(F.lit(1), F.size(toks) - 1),
        lambda i: F.struct(
            F.element_at(toks, i).alias("w1"),
            F.element_at(toks, i + 1).alias("w2"),
        ),
    )
    # short-doc guard + explode_outer/isnotnull: the top_ngrams
    # pattern — sequence(1, 0) counts DOWN and 0 faults ANSI
    # element_at; plain explode would let InferFiltersFromGenerate
    # re-inline the tokenizer as a pushed per-row filter
    pairs = with_t.select(
        F.explode_outer(
            F.when(F.size(toks) >= 2, grams).otherwise(F.array())
        ).alias("_p")
    ).filter(F.col("_p").isNotNull())
    bi = (
        pairs.select("_p.w1", "_p.w2")
        .groupBy("w1", "w2")
        .agg(F.count("*").alias("n_pair"))
    )
    n_bi = bi.agg(F.sum("n_pair").cast("double").alias("_nb"))
    kept = bi.filter(F.col("n_pair") >= min_count)
    c1 = uni.select(F.col("w").alias("w1"), F.col("_c").alias("_c1"))
    c2 = uni.select(F.col("w").alias("w2"), F.col("_c").alias("_c2"))
    joined = (
        kept.join(c1, "w1")
        .join(c2, "w2")
        .crossJoin(F.broadcast(n_uni))
        .crossJoin(F.broadcast(n_bi))
    )
    pmi = F.log(
        (F.col("n_pair").cast("double") * F.col("_nu") * F.col("_nu"))
        / (F.col("_nb") * F.col("_c1").cast("double") * F.col("_c2").cast("double"))
    )
    return joined.select(
        "w1",
        "w2",
        F.col("n_pair").cast("bigint").alias("n_pair"),
        F.round(pmi, 6).alias("pmi"),
    )


def sparse_lexical_topk(
    df,
    text_col: str,
    id_col: str,
    df_min: int = 2,
    df_max: int = 10,
    k: int = 3,
):
    """Sparse TF-IDF document-to-document top-k similarity join — the
    lexical kNN graph (the BoW twin of similarity.knn_graph's dense
    one): find each document's k most cosine-similar peers WITHOUT
    the O(n²) cross product. Candidate generation is rare-term
    blocking (the q153 containment policy): only pairs sharing a
    term with df in [df_min, df_max] are scored — a pair must share
    at least one corpus-rare term to be a near-neighbor candidate;
    stopword-grade terms (df > df_max) generate no candidates, which
    is exactly the inverted-index pruning every sparse retrieval
    engine applies (Bayardo et al. 2007 WWW, "Scaling up all pairs
    similarity search").

    The SCORE, however, is the full cosine over ALL shared terms of
    a candidate pair (not just the blocking terms): two joins of the
    candidate pairs against the (doc, term, weight) relation, then
    one per-pair sum. Per-doc L2 norms are computed once from the
    raw weights; ranking is on the ROUNDED cosine with a neighbor-id
    tiebreak, so rank order is engine-independent wherever rounded
    scores tie.

    Scale: candidate volume = sum over rare terms of C(df, 2)
    (bounded by df_max choose 2 per term); the scoring joins move
    pairs x doc-terms, never the corpus square. One shuffle per
    stage: tf agg, df agg, rare-block self-join, two weight joins,
    pair sum, rank window.

    Output: (doc_id, neighbor_id, n_shared, cosine, rank <= k)."""
    from pyspark.sql import Window
    from pyspark.storagelevel import StorageLevel

    tf = term_frequencies(df, text_col, id_col)
    dfreq = tf.groupBy("term").agg(F.count("*").alias("_df"))
    n_docs = df.select(F.count("*").alias("_n"))
    w = (
        tf.join(dfreq, "term")
        .join(F.broadcast(n_docs))
        .select(
            F.col(id_col).alias("_id"),
            "term",
            (
                F.col("tf")
                * F.log((F.col("_n") + 1.0) / (F.col("_df") + 1.0))
            ).alias("_w"),
            "_df",
        )
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    track(w)
    norms = w.groupBy("_id").agg(
        F.sqrt(F.sum(F.col("_w") * F.col("_w"))).alias("_norm")
    )
    rare = w.filter(
        (F.col("_df") >= df_min) & (F.col("_df") <= df_max)
    ).select("_id", "term")
    cand = (
        rare.select(F.col("_id").alias("id1"), "term")
        .join(rare.select(F.col("_id").alias("id2"), "term"), "term")
        .filter(F.col("id1") < F.col("id2"))
        .select("id1", "id2")
        .distinct()
    )
    w1 = w.select(F.col("_id").alias("id1"), "term", F.col("_w").alias("_w1"))
    w2 = w.select(F.col("_id").alias("id2"), "term", F.col("_w").alias("_w2"))
    scored = (
        cand.join(w1, "id1")
        .join(w2, ["id2", "term"])
        .groupBy("id1", "id2")
        .agg(
            F.count("*").cast("bigint").alias("n_shared"),
            F.sum(F.col("_w1") * F.col("_w2")).alias("_dot"),
        )
    )
    n1 = norms.select(F.col("_id").alias("id1"), F.col("_norm").alias("_n1"))
    n2 = norms.select(F.col("_id").alias("id2"), F.col("_norm").alias("_n2"))
    pairs = scored.join(n1, "id1").join(n2, "id2").select(
        "id1",
        "id2",
        "n_shared",
        F.round(F.col("_dot") / (F.col("_n1") * F.col("_n2")), 6).alias(
            "cosine"
        ),
    )
    # symmetric view: each doc ranks all its candidate peers
    both = pairs.unionByName(
        pairs.select(
            F.col("id2").alias("id1"),
            F.col("id1").alias("id2"),
            "n_shared",
            "cosine",
        )
    )
    rw = Window.partitionBy("id1").orderBy(
        F.col("cosine").desc(), F.col("id2")
    )
    return (
        both.withColumn("rank", F.row_number().over(rw))
        .filter(F.col("rank") <= k)
        .select(
            F.col("id1").alias(id_col),
            F.col("id2").alias("neighbor_id"),
            "n_shared",
            "cosine",
            F.col("rank").cast("int").alias("rank"),
        )
    )
