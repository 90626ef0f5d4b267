from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from nursing_home_data_etl_pipeline_spark.functions.vectors import cosine_rounded
from nursing_home_data_etl_pipeline_spark.operators.dedup import (
    exact_dedup,
    minhash_dedup_pairs,
    minhash_signatures,
    ngram_jaccard_pairs,
    simhash_near_pairs,
    simhash_signatures,
)
from nursing_home_data_etl_pipeline_spark.operators.multimodal import (
    decode_fake,
    with_binary_payload,
)
from nursing_home_data_etl_pipeline_spark.operators.similarity import (
    cosine_topk_bruteforce,
    cosine_topk_lsh,
    hyperplanes,
)

DOCS = [
    (1, "the quick brown fox jumps over the lazy dog today"),
    (2, "the quick brown fox jumps over the lazy dog tonight"),  # near-dup of 1
    (3, "completely different content about spark engines and data"),
    (4, "the quick brown fox jumps over the lazy dog today"),  # exact dup of 1
]


def _docs(spark):
    return spark.createDataFrame(DOCS, ["doc_id", "text"])


def test_exact_dedup_keeps_min_id(spark):
    out = exact_dedup(_docs(spark), "text", "doc_id").collect()
    ids = sorted(r.doc_id for r in out)
    assert ids == [1, 2, 3]  # 4 collapses into 1


def test_exact_dedup_null_text_rows_pass_through_keyed_by_id(spark):
    """NULL-text rows are NOT duplicates of each other: each passes through
    on its own id-keyed sentinel group."""
    df = spark.createDataFrame(
        [(1, "same"), (2, "same"), (3, None), (4, None)], ["doc_id", "text"]
    )
    out = sorted(r.doc_id for r in exact_dedup(df, "text", "doc_id").collect())
    assert out == [1, 3, 4]


def test_exact_dedup_null_id_raises_not_collapses(spark):
    """ANY NULL id raises: a NULL-text row cannot be sentinel-keyed
    (ADVICE r6 — silently collapsing all such rows into one NULL group
    with an all-NULL-min degenerate survivor), and a NULL-id row with
    REAL text is just as hazardous (round-8 hunt): min/min_by skip NULL
    ordering keys, so a fingerprint group whose ids are all NULL emitted
    one all-NULL row — the text silently destroyed."""
    import pytest

    df = spark.createDataFrame(
        [(1, "a"), (None, None), (None, None)], "doc_id int, text string"
    )
    with pytest.raises(Exception, match="non-null id"):
        exact_dedup(df, "text", "doc_id").collect()
    df2 = spark.createDataFrame(
        [(1, "a"), (None, "hello world"), (None, "hello world")],
        "doc_id int, text string",
    )
    with pytest.raises(Exception, match="non-null id"):
        exact_dedup(df2, "text", "doc_id").collect()


def test_minhash_signature_identical_for_dups(spark):
    sig = minhash_signatures(_docs(spark), num_hashes=6, shingle_k=3).collect()
    by_id = {r.doc_id: tuple(r)[1:] for r in sig}
    assert by_id[1] == by_id[4]
    assert by_id[1] != by_id[3]


def test_minhash_lsh_finds_near_dups(spark):
    pairs = {
        (r.id_a, r.id_b)
        for r in minhash_dedup_pairs(
            _docs(spark), num_hashes=6, bands=3, shingle_k=3
        ).collect()
    }
    assert (1, 4) in pairs  # exact dup always collides
    assert (1, 2) in pairs or (2, 4) in pairs  # near-dup should collide
    assert not any(3 in p for p in pairs)


def test_simhash_near_for_near_dups(spark):
    sig = simhash_signatures(_docs(spark))
    pairs = simhash_near_pairs(sig, max_hamming=10).collect()
    d = {(r.id_a, r.id_b): r.hamming for r in pairs}
    assert d.get((1, 4)) == 0
    assert (1, 2) in d


def test_simhash_reserved_id_col_raises(spark):
    # b0..b59 and n are the aggregate's internal columns (ADVICE r15)
    df = _docs(spark).withColumnRenamed("doc_id", "n")
    with pytest.raises(ValueError, match="internal columns"):
        simhash_signatures(df, id_col="n")


def test_ngram_jaccard_exact(spark):
    out = ngram_jaccard_pairs(_docs(spark), shingle_k=3, threshold=0.1).collect()
    j = {(r.id_a, r.id_b): r.jaccard for r in out}
    assert j[(1, 4)] == 1.0
    assert 0.5 < j[(1, 2)] < 1.0


def test_cosine_topk_bruteforce(spark):
    rows = [
        (0, [1.0, 0.0, 0.0]),
        (1, [0.9, 0.1, 0.0]),   # closest to 0
        (2, [0.0, 1.0, 0.0]),
        (3, [-1.0, 0.0, 0.0]),  # antipode
    ]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    out = cosine_topk_bruteforce(df.filter("vec_id = 0"), df, k=2).collect()
    assert [r.neighbor_id for r in sorted(out, key=lambda r: r.rank)] == [1, 2]


def test_lsh_topk_subset_of_bruteforce(spark):
    import random

    random.seed(7)
    rows = [
        (i, [random.gauss(0, 1) for _ in range(8)]) for i in range(60)
    ]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    q = df.filter("vec_id < 5")
    bf = {
        (r.query_id, r.neighbor_id, r.cos_sim)
        for r in cosine_topk_bruteforce(q, df, k=60).collect()
    }
    ann = cosine_topk_lsh(q, df, n_planes=3, dim=8, k=5).collect()
    # every ANN hit must be a real pair with the same exact score
    assert all((r.query_id, r.neighbor_id, r.cos_sim) in bf for r in ann)


def test_hyperplanes_deterministic():
    assert hyperplanes(3, 4) == hyperplanes(3, 4)


def test_cosine_rounded_identity(spark):
    df = spark.createDataFrame([([1.0, 2.0], [2.0, 4.0])], ["a", "b"])
    v = df.select(cosine_rounded(F.col("a"), F.col("b")).alias("c")).collect()[0].c
    assert v == 1.0


def test_null_and_blank_texts_never_pair(spark):
    """NULL and whitespace-only texts emit no shingles/signatures, so the
    MinHash-LSH, Jaccard, and SimHash paths never pair them — before the
    fix they all shared the empty-string shingle/token, n such docs
    produced O(n^2) bogus pairs (Jaccard 1.0), and one blank benchmark doc
    made decontaminate drop every NULL-text training row."""
    from nursing_home_data_etl_pipeline_spark.operators.dedup import (
        decontaminate,
        minhash_dedup_pairs,
        ngram_jaccard_pairs,
        simhash_near_pairs,
        simhash_signatures,
    )

    docs = spark.createDataFrame(
        # tab/newline-only docs too: F.trim strips only ASCII spaces, so a
        # trim-based blankness test let them slip through
        [(1, None), (2, None), (3, ""), (4, "   "), (5, "real text here now"),
         (6, "\n\n"), (7, "\t \t")],
        "doc_id long, text string",
    )
    assert minhash_dedup_pairs(docs).count() == 0
    assert ngram_jaccard_pairs(docs, threshold=0.0).count() == 0
    assert simhash_near_pairs(simhash_signatures(docs)).count() == 0

    bench = spark.createDataFrame([(100, "")], "doc_id long, text string")
    clean_ids = {r.doc_id for r in decontaminate(docs, bench).collect()}
    assert clean_ids == {1, 2, 3, 4, 5, 6, 7}  # blank bench doc scrubs nothing


def test_decontaminate_cross_corpus(spark):
    from nursing_home_data_etl_pipeline_spark.operators.dedup import decontaminate

    train = _docs(spark)  # docs 1,2,4 near/exact dups; 3 distinct
    benchmark = spark.createDataFrame(
        [(100, "the quick brown fox jumps over the lazy dog today")],
        ["doc_id", "text"],
    )
    clean = decontaminate(train, benchmark, num_hashes=6, bands=3, shingle_k=3)
    ids = sorted(r.doc_id for r in clean.collect())
    # 1 and 4 are exact matches of the benchmark doc -> removed; 3 survives
    assert 3 in ids and 1 not in ids and 4 not in ids


def test_multimodal_plumbing(spark):
    docs = spark.createDataFrame([(1, "hello world")], ["doc_id", "text"])
    mm = with_binary_payload(docs)
    assert dict(mm.dtypes)["payload"] == "binary"
    row = decode_fake(mm).collect()[0]
    assert row.n_bytes == 11
    assert row.header_hex == "hello wo".encode().hex()
    assert row.fake_height == ord("h")


def test_multimodal_null_payload_propagates(spark):
    """A NULL payload (row never had media) must decode to NULL metadata —
    distinct from an EMPTY payload (0 bytes) — not crash the Python worker
    (payload.map(len) raised TypeError on None before the fix)."""
    mm = spark.createDataFrame(
        [(1, b"hello"), (2, None), (3, b"")], "doc_id long, payload binary"
    )
    dec = {r.doc_id: r for r in decode_fake(mm).collect()}
    assert dec[2].n_bytes is None and dec[2].header_hex is None
    assert dec[2].fake_width is None and dec[2].fake_height is None
    assert dec[3].n_bytes == 0 and dec[3].header_hex == ""


def test_rhp_derived_planes_bound_bucket_occupancy():
    """VERDICT round-1: bucket count must scale with corpus size so expected
    occupancy (and with it within-bucket pair work) stays bounded."""
    from nursing_home_data_etl_pipeline_spark.operators.similarity import (
        RHP_MAX_PLANES,
        RHP_TARGET_OCCUPANCY,
        derive_n_planes,
    )

    prev = 0
    for n in (10, 100, 1_000, 100_000, 10_000_000, 10**9):
        planes = derive_n_planes(n)
        assert 4 <= planes <= RHP_MAX_PLANES
        assert planes >= prev  # monotone in corpus size
        prev = planes
        if planes < RHP_MAX_PLANES:
            # expected occupancy bound holds until the plane cap engages
            assert n / (2 ** planes) <= RHP_TARGET_OCCUPANCY
    # at the cap, occupancy grows only linearly in n (pair work stays O(n*occ))
    assert derive_n_planes(10**9) == RHP_MAX_PLANES


def test_embedding_near_dup_auto_planes_matches_explicit(spark):
    from pyspark.sql import functions as F

    from nursing_home_data_etl_pipeline_spark.operators.similarity import (
        derive_n_planes,
        embedding_near_dup_pairs,
    )
    from nursing_home_data_etl_pipeline_spark.sources.readers import read_table

    emb = read_table(spark, "/root/testdata/sf0.001", "embeddings")
    n = emb.count()
    auto = embedding_near_dup_pairs(emb, threshold=0.3, dim=64)
    explicit = embedding_near_dup_pairs(
        emb, threshold=0.3, n_planes=derive_n_planes(n), dim=64
    )
    assert auto.count() == explicit.count()
    assert auto.exceptAll(explicit).isEmpty()


def test_token_hash_conv_equals_portable_sql(spark):
    """simhash_signatures computes the token hash with the JVM conv()
    intrinsic; the DuckDB oracle uses token_hash_sql's digit arithmetic.
    They must agree bit-for-bit or the simhash oracle silently diverges."""
    from pyspark.sql import functions as F

    from nursing_home_data_etl_pipeline_spark.operators.dedup import token_hash_sql

    toks = spark.createDataFrame(
        [("w",) for _ in range(1)], ["t"]
    ).select(F.explode(F.split(F.lit("the quick brown fox 0123 ffff aa"), " ")).alias("t"))
    bad = toks.select(
        F.expr(token_hash_sql("t")).cast("long").alias("o"),
        F.conv(F.substring(F.md5("t"), 1, 15), 16, 10).cast("long").alias("n"),
    ).filter("o <> n")
    assert bad.count() == 0


def test_minhash_double_hash_matches_duckdb_oracle_arithmetic(spark):
    """minhash_signatures' conv()-based (h1 + s*h2) % P must equal the
    oracle's digit-arithmetic reproduction for every hash row, or all
    minhash-family oracles silently diverge."""
    import duckdb

    from nursing_home_data_etl_pipeline_spark.operators.dedup import (
        MINHASH_P,
        hex_to_bigint_sql,
    )

    def hex48(expr, start):
        return hex_to_bigint_sql(expr, start, 12)

    shingles = ["the quick brown", "fox jumps over", "xyz", "0 1 2"]
    sdf = spark.createDataFrame([(s,) for s in shingles], ["s"])
    m = F.md5("s")
    got = {
        (r.s, r.mh): None
        for r in sdf.select(
            "s",
            (
                (
                    F.conv(F.substring(m, 1, 12), 16, 10).cast("long")
                    + 7 * F.conv(F.substring(m, 13, 12), 16, 10).cast("long")
                )
                % MINHASH_P
            ).alias("mh"),
        ).collect()
    }
    con = duckdb.connect()
    want = {
        tuple(r): None
        for r in con.execute(
            f"""SELECT s, ({hex48('md5(s)', 1)} + 7 * {hex48('md5(s)', 13)})
                          % {MINHASH_P} AS mh
                FROM (SELECT unnest(?) AS s)""",
            [shingles],
        ).fetchall()
    }
    assert got == want


def test_exact_dedup_null_text_rows_pass_through(spark):
    """Distinct documents with NULL text are NOT duplicates of each other:
    SQL GROUP BY would fold them into one group and silently delete all but
    one — they pass through undeduped instead."""
    from nursing_home_data_etl_pipeline_spark.operators.dedup import exact_dedup

    df = spark.createDataFrame(
        [(1, None), (2, None), (3, "x"), (4, "x")], "doc_id long, text string"
    )
    got = sorted(r.doc_id for r in exact_dedup(df).collect())
    assert got == [1, 2, 3]


def test_band_count_must_divide_hashes(spark):
    import pytest

    from nursing_home_data_etl_pipeline_spark.operators.dedup import (
        lsh_candidate_pairs,
        minhash_signatures,
    )

    docs = spark.createDataFrame([(1, "a b c d e f")], "doc_id long, text string")
    sig = minhash_signatures(docs, num_hashes=12)
    with pytest.raises(ValueError, match="divisor"):
        lsh_candidate_pairs(sig, "doc_id", num_hashes=12, bands=24)
    with pytest.raises(ValueError, match="divisor"):
        lsh_candidate_pairs(sig, "doc_id", num_hashes=12, bands=5)


def test_similarity_excludes_null_and_zero_norm_vectors(spark):
    """One dirty embedding (zero vector: no direction, cosine undefined;
    or NULL) must neither abort the job (ANSI divide-by-zero) nor appear
    in any result — on either the query or the corpus side."""
    from nursing_home_data_etl_pipeline_spark.operators.similarity import (
        cosine_topk_bruteforce,
        cosine_topk_lsh,
        embedding_near_dup_pairs,
    )

    rows = [
        (0, [1.0, 0.0, 0.0, 0.0]),
        (1, [1.0, 0.0, 0.0, 0.0]),
        (2, [0.0, 1.0, 0.0, 0.0]),
        (3, [0.0, 0.0, 0.0, 0.0]),  # zero norm
        (4, None),  # NULL embedding
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")

    brute = cosine_topk_bruteforce(df, df, k=10).collect()
    ids = {r.query_id for r in brute} | {r.neighbor_id for r in brute}
    assert ids == {0, 1, 2}

    lsh = cosine_topk_lsh(df, df, k=10, n_planes=2, dim=4).collect()
    ids = {r.query_id for r in lsh} | {r.neighbor_id for r in lsh}
    assert ids <= {0, 1, 2}

    pairs = embedding_near_dup_pairs(df, threshold=0.9, n_planes=2, dim=4).collect()
    ids = {r.id_a for r in pairs} | {r.id_b for r in pairs}
    assert ids == {0, 1}


def test_jaccard_hot_shingle_cap_matches_oracle(spark):
    """The hot-shingle cap (stop-shingle guard) must be mirrored by the
    DuckDB oracle twin: set sizes count every shingle, but shingles whose
    document frequency exceeds the cap never PAIR. Exercised with cap=2 on
    a corpus where boilerplate text is shared by 3 docs (dropped) and a
    rare text by 2 (paired)."""
    import duckdb

    from nursing_home_data_etl_pipeline_spark.operators.dedup import (
        ngram_jaccard_pairs,
    )
    from nursing_home_data_etl_pipeline_spark.plans.queries_northstar import (
        _jaccard_pairs_sql,
    )

    rows = [
        (1, "common boiler plate"),
        (2, "common boiler plate"),
        (3, "common boiler plate"),
        (4, "rare pair text"),
        (5, "rare pair text"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = sorted(
        (r.id_a, r.id_b, r.jaccard)
        for r in ngram_jaccard_pairs(
            df, "text", "doc_id", shingle_k=5, threshold=0.0, hot_shingle_cap=2
        ).collect()
    )
    assert got == [(4, 5, 1.0)]  # boilerplate trio suppressed by the cap

    con = duckdb.connect()
    con.execute("CREATE TABLE documents (doc_id BIGINT, text VARCHAR)")
    con.executemany("INSERT INTO documents VALUES (?, ?)", rows)
    oracle = sorted(
        (a, b, j) for a, b, _, j in con.execute(_jaccard_pairs_sql(2, 0.0)).fetchall()
    )
    assert oracle == got


def test_lsh_excludes_off_dim_vectors(spark):
    """Round-8 hunt: a vector whose length differs from the hyperplane dim
    NULL-poisons every plane dot and previously collapsed into bucket 0
    with every other off-dim vector — a degenerate O(n^2) bucket. Such
    vectors are now excluded like NULL/zero-norm ones."""
    from nursing_home_data_etl_pipeline_spark.operators.similarity import (
        cosine_topk_lsh,
        embedding_near_dup_pairs,
    )

    df = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [1.0, 0.0, 0.0]), (3, [1.0, 0.0, 0.0])],
        "vec_id int, embedding array<double>",
    )
    assert embedding_near_dup_pairs(df, threshold=0.9, n_planes=4, dim=2).count() == 0
    got = cosine_topk_lsh(df, df, n_planes=4, dim=2, k=5).collect()
    assert got == []  # the only dim-2 vector has no dim-2 peers


def test_decontaminate_null_id_benchmark_still_scrubs(spark):
    """Round-8 hunt: benchmark ids are irrelevant to decontamination (only
    band keys cross the join), so NULL-id benchmark docs get surrogate ids
    instead of being dropped — or chimera-merged into one wrong signature."""
    from nursing_home_data_etl_pipeline_spark.operators.dedup import decontaminate

    text = "the quick brown fox jumps over the lazy dog again and again"
    other = "completely different content with no overlap whatsoever here now"
    train = spark.createDataFrame(
        [(1, text), (2, other)], "doc_id long, text string"
    )
    benchmark = spark.createDataFrame(
        [(None, text), (None, "unrelated benchmark material entirely")],
        "doc_id long, text string",
    )
    kept = sorted(r.doc_id for r in decontaminate(train, benchmark).collect())
    assert kept == [2]


def test_minhash_simhash_signatures_exclude_null_ids(spark):
    """Round-8 hunt: SQL GROUP BY would merge every NULL-id doc into ONE
    chimera signature mixing their shingles; NULL-id docs are excluded
    (their pairs were NULL-false anyway)."""
    from nursing_home_data_etl_pipeline_spark.operators.dedup import (
        minhash_signatures,
        simhash_signatures,
    )

    df = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon zeta"), (None, "some words here"),
         (None, "other words there")],
        "doc_id long, text string",
    )
    assert minhash_signatures(df, num_hashes=4, shingle_k=2).count() == 1
    assert simhash_signatures(df).count() == 1


def test_jaccard_duplicate_doc_rows_keep_set_semantics(spark):
    """Round-8 fuzz: a verbatim duplicated doc row doubled sizes, doc-freq,
    and intersection counts — Jaccard reached 2i/(2a+b-2i) > 1. The shingle
    table is a per-document SET, so duplicates are no-ops and Jaccard stays
    in [0, 1]."""
    from nursing_home_data_etl_pipeline_spark.operators.dedup import (
        ngram_jaccard_pairs,
    )

    t1 = "the quick brown fox jumps over the lazy dog today"
    t2 = "the quick brown fox jumps over the lazy dog tonight"
    df = spark.createDataFrame(
        [(1, t1), (1, t1), (2, t2)], "doc_id long, text string"
    )
    rows = ngram_jaccard_pairs(df, shingle_k=2, threshold=0.0).collect()
    assert len(rows) == 1
    r = rows[0]
    assert (r.id_a, r.id_b) == (1, 2) and 0.0 <= r.jaccard <= 1.0
    # same pair set as the duplicate-free frame
    clean = ngram_jaccard_pairs(
        spark.createDataFrame([(1, t1), (2, t2)], "doc_id long, text string"),
        shingle_k=2,
        threshold=0.0,
    ).collect()
    assert [(r.id_a, r.id_b, r.n_common, r.jaccard) for r in rows] == [
        (c.id_a, c.id_b, c.n_common, c.jaccard) for c in clean
    ]


def test_shingle_table_matches_hof_reference(spark):
    """The overlapping-regex shingler (round 15) must emit the exact
    multiset the transform+slice+concat HOF produced — every word-start
    k-gram, distinct per doc, whole text when shorter than k, last word
    consumable at k=1 (the sentinel-space case)."""
    from nursing_home_data_etl_pipeline_spark.functions.text import (
        normalize_text,
    )
    from nursing_home_data_etl_pipeline_spark.operators.dedup import (
        shingle_table,
    )

    docs = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "  Mixed   CASE \t and\nruns   of  whitespace  "),
        (3, "exactly five words right here ok"[:-3]),  # 5 words
        (4, "short doc"),
        (5, "one"),
        (6, "a a a a a a a a"),  # repeated shingles collapse
        (7, "nb sp stays inside one word token here okay"),
        (8, None),
        (9, "   \t\n  "),
        (10, "naïve café déjà vu überall straße München π"),
    ]
    df = spark.createDataFrame(docs, ["doc_id", "text"])

    def reference(df, k):
        base = (
            df.select("doc_id", normalize_text(F.col("text")).alias("_n"))
            .filter(F.col("_n").isNotNull() & (F.col("_n") != ""))
            .select("doc_id", F.split("_n", " ").alias("_w"))
        )
        idx = F.sequence(
            F.lit(1), F.greatest(F.size("_w") - (k - 1), F.lit(1))
        )
        sh = F.array_distinct(
            F.transform(
                idx, lambda i: F.concat_ws(" ", F.slice(F.col("_w"), i, k))
            )
        )
        return base.select("doc_id", F.explode(sh).alias("_shingle"))

    for k in (1, 2, 5):
        got = shingle_table(df, "text", "doc_id", k)
        want = reference(df, k)
        assert got.exceptAll(want).count() == 0, f"k={k}: extra shingles"
        assert want.exceptAll(got).count() == 0, f"k={k}: missing shingles"
