"""North-star queries: text analysis and dedup over documents (similarity
search + multimodal split to queries_similarity, round 13). Oracle rules:
md5-hex hashes only; DuckDB regexp_replace needs 'g'; element access via
list[i] + unnest(generate_series(...)) (no WITH ORDINALITY in DuckDB 1.0);
cosine/jaccard rounded to 6 decimals with (rounded value, id) ranking.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.text import (
    avg_word_len,
    char_count,
    distinct_word_ratio,
    fingerprint,
    lang_id,
    quality_score,
    stopword_ratio,
    token_count,
)
from ..operators.dedup import (
    HOT_SHINGLE_CAP,
    MINHASH_P,
    SIMHASH_BITS,
    exact_dedup,
    hex_to_bigint_sql,
    ngram_jaccard_pairs,
    simhash_signatures,
    token_hash_sql,
)
from ..sources.readers import read_table
from .catalog import register

# ---------------------------------------------------------------------------
# Text analysis
# ---------------------------------------------------------------------------

from ..functions.text import duck_norm_sql, duck_words_sql
from ..functions.vectors import duck_round_sql

#: DuckDB expression for whitespace words of the raw text column — the
#: exact twin of functions.text.words() (blank-safe: [] for blank text).
_DUCK_WORDS = duck_words_sql("text")
#: DuckDB expression for Spark's normalize_text() — SPACE-ONLY outer trim
#: (bare trim() strips NBSP/U+3000, which F.trim keeps; round-8 probe).
_DUCK_NORM = duck_norm_sql()


def _duck_sw_hits(lang_words: tuple[str, ...]) -> str:
    arr = ", ".join(f"'{w}'" for w in lang_words)
    return (
        f"len(list_filter({duck_words_sql('lower(text)')}, "
        f"x -> list_contains([{arr}], x)))"
    )


def _text_profile_oracle() -> str:
    from ..functions.text import STOPWORDS

    hits = {lang: _duck_sw_hits(ws) for lang, ws in sorted(STOPWORDS.items())}
    best = "greatest(" + ", ".join(hits.values()) + ")"
    case = "CASE "
    for lang, h in hits.items():  # first language wins ties (sorted order)
        case += f"WHEN {h} = best AND best > 0 THEN '{lang}' "
    case += "ELSE 'und' END"
    en = ", ".join(f"'{w}'" for w in STOPWORDS["en"])
    return f"""
    WITH t AS (
      SELECT doc_id,
             lang AS declared_lang,
             text,
             {_DUCK_WORDS} AS w,
             length(text) AS n_chars,
             length(text) - length(regexp_replace(text, '[^a-zA-Z0-9_ \\t\\n\\x0B\\f\\r]', '', 'g')) AS n_punct,
             {best} AS best
      FROM documents
    )
    SELECT doc_id,
           CAST(n_chars AS BIGINT)                                       AS n_chars,
           CAST(len(w) AS BIGINT)                                        AS n_words,
           CAST(len(regexp_extract_all(text,
                '[a-zA-Z0-9_]+|[^a-zA-Z0-9_ \\t\\n\\x0B\\f\\r]')) AS BIGINT)            AS n_tokens,
           -- list_sum([]) is NULL in DuckDB; the engine's fold seeds 0.0,
           -- so a 0-word doc has mean word length 0, not NULL.
           -- duck_round_sql throughout, not ROUND: these are COUNT-derived
           -- ratios, the class where ROUND vs F.round diverge at
           -- 7-decimal repr midpoints (41/640 — round-8 hunt)
           {duck_round_sql("COALESCE(list_sum(list_transform(w, x -> CAST(length(x) AS DOUBLE))), CASE WHEN w IS NOT NULL THEN 0.0 END) / greatest(len(w), 1)")} AS avg_word_len,
           {duck_round_sql("CAST(len(list_distinct(w)) AS DOUBLE) / greatest(len(w), 1)")} AS distinct_ratio,
           {duck_round_sql("(least(CAST(len(w) AS DOUBLE) / 50.0, 1.0) + CAST(len(list_distinct(w)) AS DOUBLE) / greatest(len(w), 1) + (1.0 - least(CAST(n_punct AS DOUBLE) / greatest(n_chars, 1) * 5, 1.0))) / 3")} AS quality,
           {duck_round_sql(f"CAST(len(list_filter(w, x -> list_contains([{en}], lower(x)))) AS DOUBLE) / greatest(len(w), 1)")} AS en_stopword_ratio,
           declared_lang,
           {case} AS detected_lang,
           md5({_DUCK_NORM}) AS fp,
           CAST(CASE WHEN {_DUCK_NORM} = '' THEN 0
                     ELSE len(regexp_split_to_array({_DUCK_NORM}, ' '))
                END AS BIGINT)                                           AS n_words_norm
    FROM t
    """


@register(
    "text_profile",
    oracle=_text_profile_oracle(),
    doc="The per-document text-analysis profile in one map-only pass: "
    "char/word/BPE-ish token counts, mean word length, lexical diversity, "
    "heuristic quality score. Full contract: docs/CONTRACTS.md#text_profile",
)
def text_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.text import normalize_text, words

    docs = read_table(spark, sf_dir, "documents")
    t = F.col("text")
    # Materialize the word arrays once; every stat reads the bound attribute
    # (2x faster than re-tokenizing inside each expression — see
    # avg_word_len docstring).
    base = docs.select(
        "doc_id",
        "lang",
        t.alias("text"),
        words(t).alias("_w"),
        words(F.lower(t)).alias("_wl"),
    )
    w, wl = F.col("_w"), F.col("_wl")
    return base.select(
        "doc_id",
        char_count(t).alias("n_chars"),
        F.size(w).cast("long").alias("n_words"),
        token_count(t).alias("n_tokens"),
        avg_word_len(t, w).alias("avg_word_len"),
        distinct_word_ratio(t, w).alias("distinct_ratio"),
        quality_score(t, w).alias("quality"),
        stopword_ratio(t, "en", wl).alias("en_stopword_ratio"),
        F.col("lang").alias("declared_lang"),
        lang_id(t, wl).alias("detected_lang"),
        fingerprint(t).alias("fp"),
        F.size(words(normalize_text(t))).cast("long").alias("n_words_norm"),
    )


# ---------------------------------------------------------------------------
# Dedup
# ---------------------------------------------------------------------------


@register(
    "dedup_exact",
    oracle=f"""
    WITH corpus AS (
      -- NULL-id rows excluded by contract: no identity, no min-id survivor
      -- (exact_dedup docstring has the full rationale)
      SELECT doc_id, text FROM documents WHERE doc_id IS NOT NULL
      UNION ALL
      SELECT doc_id + 1000000, text || '  ' FROM documents WHERE doc_id % 10 = 0
    )
    SELECT md5({_DUCK_NORM}) AS fp_ignored,
           MIN(doc_id) AS doc_id
    FROM corpus
    WHERE text IS NOT NULL
    GROUP BY 1
    UNION ALL
    -- NULL-text rows pass through UNDEDUPED (exact_dedup's NULL contract:
    -- a missing text is not a duplicate of another missing text); a bare
    -- GROUP BY would collapse them into one NULL-fingerprint group.
    -- DISTINCT mirrors the engine's per-IDENTITY sentinel group: verbatim
    -- re-delivered copies of one id collapse to a single row — the same
    -- rule as streaming dedup-by-id (round-9 shape fuzz: an all-NULL text
    -- column under duplicated doc rows emitted one oracle row PER COPY)
    SELECT DISTINCT CAST(NULL AS VARCHAR), doc_id FROM corpus WHERE text IS NULL
    """,
    doc="Exact dedup via content-fingerprint hash aggregation (min-id survivor). "
    "Full contract: docs/CONTRACTS.md#dedup_exact",
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = (
        read_table(spark, sf_dir, "documents")
        .select("doc_id", "text")
        .filter(F.col("doc_id").isNotNull())
    )
    dups = docs.filter(F.col("doc_id") % 10 == 0).select(
        (F.col("doc_id") + 1000000).alias("doc_id"),
        F.concat(F.col("text"), F.lit("  ")).alias("text"),
    )
    corpus = docs.unionByName(dups)
    out = exact_dedup(corpus, "text", "doc_id")
    return out.select(
        fingerprint(F.col("text")).alias("fp_ignored"), F.col("doc_id")
    )


_SHINGLE_K = 5
_NUM_HASHES = 12
_BANDS = 4

def _duck_shingles(src: str = "documents", prefix: str = "") -> str:
    """DuckDB shingle CTE (distinct word 5-grams of normalized text; whole
    text when shorter than k) — mirrors operators.dedup.shingle_table
    exactly. ``src`` parameterizes the corpus relation so composed queries
    (e.g. training_corpus) can shingle a filtered CTE; ``prefix`` names
    the CTEs so one query can shingle two corpora (decontamination).
    Design notes: docs/DESIGN.md#queries-northstar--duck-shingles"""
    leads = ", ".join(
        f"LEAD(w, {j}) OVER (PARTITION BY rid ORDER BY i)"
        for j in range(1, _SHINGLE_K)
    )
    return f"""
    {prefix}words AS (SELECT doc_id, row_number() OVER () AS rid,
                   regexp_split_to_array({_DUCK_NORM}, ' ') AS wa
              FROM {src}
              WHERE {_DUCK_NORM} IS NOT NULL AND {_DUCK_NORM} != ''),
    {prefix}wordpos AS (
      SELECT doc_id, rid, len(wa) AS n, unnest(wa) AS w,
             unnest(range(1, len(wa) + 1)) AS i
      FROM {prefix}words
    ),
    {prefix}shingles AS (
      SELECT DISTINCT doc_id, concat_ws(' ', w, {leads}) AS s
      FROM {prefix}wordpos
      QUALIFY i <= greatest(n - {_SHINGLE_K - 1}, 1)
    )
"""


_DUCK_SHINGLES = _duck_shingles()


def _duck_minhash_sig_cte(prefix: str = "") -> str:
    """hash + sig CTEs over ``{prefix}shingles`` implementing the
    double-hashing MinHash family (h1 + s*h2) % P — the exact spec of
    operators.dedup.minhash_signatures."""
    mins = ",\n           ".join(
        f"MIN((h1 + {s} * h2) % {MINHASH_P}) AS mh_{s}"
        for s in range(_NUM_HASHES)
    )
    return f"""{prefix}hashed AS (
      SELECT doc_id, md5(s) AS m FROM {prefix}shingles
    ),
    {prefix}h AS (
      -- 12-hex-char BIGINTs via the shared digit-arithmetic generator:
      -- mirrors Spark's conv(substring(md5, start, 12), 16, 10) bit-for-bit
      SELECT doc_id, {hex_to_bigint_sql('m', 1, 12)} AS h1,
             {hex_to_bigint_sql('m', 13, 12)} AS h2
      FROM {prefix}hashed
    ),
    {prefix}sig AS (
      SELECT doc_id,
           {mins}
      FROM {prefix}h GROUP BY doc_id
    )"""


def _band_selects_sql(sig_rel: str) -> str:
    """UNION ALL of per-band (doc_id, band, key) selects over a signature
    relation — THE band-key layout ('|'-joined row hashes, md5 key); every
    banding oracle builds on this one generator (within-corpus pairs here,
    cross-corpus decontamination in queries_sampling)."""
    rows = _NUM_HASHES // _BANDS
    return "\n      UNION ALL\n      ".join(
        "SELECT doc_id, {b} AS band, md5({parts}) AS key FROM {src}".format(
            b=b,
            src=sig_rel,
            parts=" || '|' || ".join(
                f"CAST(mh_{b * rows + r} AS VARCHAR)" for r in range(rows)
            ),
        )
        for b in range(_BANDS)
    )


def _minhash_pairs_cte(src: str = "documents") -> str:
    """CTE chain ending in ``mh_pairs(id_a, id_b)`` — shared by the pairs
    query, the cluster query, and corpus-composition queries."""
    bands_sql = _band_selects_sql("sig")
    return f"""{_duck_shingles(src)},
    {_duck_minhash_sig_cte()},
    bands AS (
      {bands_sql}
    ),
    mh_pairs AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM bands a JOIN bands b
        ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id
    )"""


def _cc_comp_cte(vertices_from: str) -> str:
    """Connected components over ``mh_pairs`` as a recursive min-label
    reachability CTE, ending in ``comp(doc_id, cluster_id)``. Callers embed
    it inside a ``WITH RECURSIVE`` after a :func:`_minhash_pairs_cte`
    block; ``vertices_from`` is the FROM-clause body supplying the vertex
    set (shared by the cluster query and training_corpus)."""
    return f"""
    edges AS (
      SELECT id_a AS a, id_b AS b FROM mh_pairs
      UNION
      SELECT id_b, id_a FROM mh_pairs
    ),
    reach(v, l) AS (
      SELECT doc_id, doc_id FROM {vertices_from}
      UNION
      SELECT e.b, r.l FROM reach r JOIN edges e ON e.a = r.v
    ),
    comp AS (SELECT v AS doc_id, MIN(l) AS cluster_id FROM reach GROUP BY v)"""


def _simhash_oracle() -> str:
    # Tokenizer twin of the engine's words(F.lower(text)) — blank-safe, no
    # phantom ''-token from edge whitespace (moved in lockstep with
    # simhash_signatures and the bit-exact Python property model).
    dw = duck_words_sql("lower(text)")
    h = token_hash_sql("w")
    bit_sums = ",\n             ".join(
        f"SUM(CASE WHEN (h // {2 ** j}) % 2 = 1 THEN 1 ELSE -1 END) AS b{j}"
        for j in range(SIMHASH_BITS)
    )
    rebuild = " + ".join(
        f"CASE WHEN b{j} > 0 THEN {2 ** j} ELSE 0 END" for j in range(SIMHASH_BITS)
    )
    return f"""
    WITH toks AS (
      SELECT DISTINCT doc_id, unnest({dw}) AS w
      FROM documents
      WHERE {_DUCK_NORM} IS NOT NULL AND {_DUCK_NORM} != ''
    ),
    hashed AS (SELECT doc_id, {h} AS h FROM toks),
    bits AS (
      SELECT doc_id,
             {bit_sums}
      FROM hashed GROUP BY doc_id
    )
    SELECT doc_id, CAST({rebuild} AS BIGINT) AS simhash FROM bits
    """


def _simhash_pairs_oracle(max_hamming: int = 3, bands: int = 4) -> str:
    base = _simhash_oracle().strip()
    bits_per = SIMHASH_BITS // bands
    mod = 1 << bits_per
    band_selects = "\n      UNION ALL\n      ".join(
        f"SELECT doc_id, simhash, {b} AS band, "
        f"(simhash // {2 ** (b * bits_per)}) % {mod} AS key FROM sims"
        for b in range(bands)
    )
    return f"""
    WITH sims AS ({base}),
    buckets AS (
      {band_selects}
    )
    SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
           bit_count(xor(a.simhash, b.simhash)) AS hamming
    FROM buckets a JOIN buckets b
      ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id
    WHERE bit_count(xor(a.simhash, b.simhash)) <= {max_hamming}
    """


_JACCARD_THRESHOLD = 0.05

def _jaccard_pairs_sql(cap: int, threshold: float) -> str:
    """Jaccard-pairs oracle (cap parameterized for tests). Mirrors
    ngram_jaccard_pairs: set SIZES count every shingle but only COLD ones
    (doc frequency <= cap) pair — under-estimating pairs that share only
    hot shingles, the engine's documented conservative direction."""
    return f"""
    WITH {_DUCK_SHINGLES},
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM shingles GROUP BY doc_id),
    cold AS (SELECT s FROM shingles GROUP BY s HAVING COUNT(*) <= {cap}),
    inter AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_common
      FROM shingles a
      JOIN cold ON cold.s = a.s
      JOIN shingles b ON a.s = b.s AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT id_a, id_b, n_common,
           {duck_round_sql("CAST(n_common AS DOUBLE) / (sa.n + sb.n - n_common)")} AS jaccard
    FROM inter
    JOIN sizes sa ON sa.doc_id = id_a
    JOIN sizes sb ON sb.doc_id = id_b
    -- threshold the ROUNDED value like the engine (round(j,6) >= t); via
    -- duck_round_sql — count ratios sit at repr midpoints (round 8)
    WHERE {duck_round_sql("CAST(n_common AS DOUBLE) / (sa.n + sb.n - n_common)")} >= {threshold}
    """


_JACCARD_PAIRS_SQL = _jaccard_pairs_sql(HOT_SHINGLE_CAP, _JACCARD_THRESHOLD)


@register(
    "dedup_near_pairs",
    oracle=f"""
    SELECT 'simhash' AS variant, id_a, id_b,
           CAST(hamming AS BIGINT) AS n, CAST(NULL AS DOUBLE) AS score
    FROM ({_simhash_pairs_oracle()})
    UNION ALL
    SELECT 'jaccard', id_a, id_b, CAST(n_common AS BIGINT),
           jaccard
    FROM ({_JACCARD_PAIRS_SQL})
    """,
    doc="Near-duplicate candidate pairs, one tagged row set per algorithm. Full "
    "contract: docs/CONTRACTS.md#dedup_near_pairs",
)
def dedup_near_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import simhash_near_pairs

    docs = read_table(spark, sf_dir, "documents")
    simhash = simhash_near_pairs(
        simhash_signatures(docs, "text", "doc_id")
    ).select(
        F.lit("simhash").alias("variant"), "id_a", "id_b",
        F.col("hamming").cast("long").alias("n"),
        F.lit(None).cast("double").alias("score"),
    )
    jaccard = ngram_jaccard_pairs(
        docs, "text", "doc_id", _SHINGLE_K, _JACCARD_THRESHOLD
    ).select(
        F.lit("jaccard").alias("variant"), "id_a", "id_b",
        F.col("n_common").cast("long").alias("n"),
        F.col("jaccard").alias("score"),  # already portable-rounded
    )
    return simhash.unionByName(jaccard)
