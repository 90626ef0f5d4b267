"""Degenerate-input robustness: empty corpora, single docs, blank text —
the states a 100 TB pipeline hits on its first and worst days."""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql import types as T

from nursing_home_data_etl_pipeline_spark.functions.text import quality_score, words
from nursing_home_data_etl_pipeline_spark.operators.dedup import (
    exact_dedup,
    minhash_dedup_pairs,
    ngram_jaccard_pairs,
    simhash_signatures,
)
from nursing_home_data_etl_pipeline_spark.operators.joins import merge_scd1
from nursing_home_data_etl_pipeline_spark.operators.similarity import (
    cosine_topk_bruteforce,
)

DOC_SCHEMA = T.StructType(
    [T.StructField("doc_id", T.LongType()), T.StructField("text", T.StringType())]
)


def _empty_docs(spark):
    return spark.createDataFrame([], DOC_SCHEMA)


def test_dedup_ops_on_empty_corpus(spark):
    empty = _empty_docs(spark)
    assert exact_dedup(empty).count() == 0
    assert minhash_dedup_pairs(empty).count() == 0
    assert ngram_jaccard_pairs(empty).count() == 0
    assert simhash_signatures(empty).count() == 0


def test_single_doc_no_pairs(spark):
    one = spark.createDataFrame([(1, "a b c d e f g")], DOC_SCHEMA)
    assert minhash_dedup_pairs(one).count() == 0
    assert ngram_jaccard_pairs(one).count() == 0


def test_blank_text_doc(spark):
    docs = spark.createDataFrame([(1, "   "), (2, "real words here")], DOC_SCHEMA)
    # words() of blank -> empty array, quality defined (no div-by-zero)
    out = docs.select(
        F.size(words(F.col("text"))).alias("n"),
        quality_score(F.col("text")).alias("q"),
    ).collect()
    assert out[0].n == 0 and 0.0 <= out[0].q <= 1.0
    # exact dedup keeps both (different fingerprints: '' vs text)
    assert exact_dedup(docs).count() == 2


def test_similarity_empty_query_set(spark):
    corpus = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.0, 1.0])], ["vec_id", "embedding"]
    )
    out = cosine_topk_bruteforce(corpus.filter("vec_id < 0"), corpus, k=5)
    assert out.count() == 0


def test_scd1_merge_empty_sides(spark):
    schema = T.StructType(
        [T.StructField("pk", T.StringType()), T.StructField("v", T.LongType())]
    )
    target = spark.createDataFrame([("a", 1)], schema)
    empty = spark.createDataFrame([], schema)
    # empty source -> target unchanged
    assert merge_scd1(target, empty, ["pk"]).count() == 1
    # empty target -> source inserted
    assert merge_scd1(empty, target, ["pk"]).count() == 1


def test_simhash_bands_must_divide_bits(spark):
    from nursing_home_data_etl_pipeline_spark.operators.dedup import (
        simhash_near_pairs,
        simhash_signatures,
    )

    sig = simhash_signatures(
        spark.createDataFrame([(1, "a b c")], "doc_id long, text string")
    )
    import pytest

    for bad in (8, 61, 0):
        with pytest.raises(ValueError, match="divisor"):
            simhash_near_pairs(sig, bands=bad)


def test_chunk_table_rejects_negative_overlap(spark):
    import pytest

    from nursing_home_data_etl_pipeline_spark.operators.chunking import chunk_table

    df = spark.createDataFrame([(1, "a b c")], "doc_id long, text string")
    with pytest.raises(ValueError, match="overlap"):
        chunk_table(df, chunk_words=50, overlap=-10)


def test_asof_join_output_name_collision_raises(spark):
    import pytest

    from nursing_home_data_etl_pipeline_spark.operators.asof import asof_join

    left = spark.createDataFrame(
        [(1, 10, 1.0)], "k long, ts long, value_asof double"
    )
    right = spark.createDataFrame([(1, 5, 2.0)], "k long, ts long, value double")
    with pytest.raises(ValueError, match="collision"):
        asof_join(left, right, on="k", left_ts="ts", right_ts="ts",
                  value_cols=["value"])


def test_sampling_boundary_is_rounded_not_truncated(spark):
    """int(0.57 * 10000) == 5699 in IEEE doubles; the keep boundary must
    be 5700 — fractions are exact at 1/10000 granularity."""
    from nursing_home_data_etl_pipeline_spark.operators.sampling import (
        _hash_bucket,
        stratified_deterministic_sample,
    )

    df = spark.createDataFrame([(i, "a") for i in range(4000)], "doc_id long, s string")
    kept = stratified_deterministic_sample(df, "doc_id", "s", {"a": 0.57}, salt="s")
    expect = df.filter(_hash_bucket(F.col("doc_id"), "s") < 5700)
    assert kept.count() == expect.count()


def test_pii_hit_count_ignores_preexisting_placeholders(spark):
    from nursing_home_data_etl_pipeline_spark.functions.text import pii_hit_count

    df = spark.createDataFrame(
        [
            (1, "contact bob@example.com today"),
            (2, "this doc shows the <EMAIL> placeholder literally"),
            (3, "<EMAIL> and also write to eve@example.org"),
        ],
        "id long, text string",
    )
    got = {r.id: r.n for r in df.select("id", pii_hit_count(F.col("text")).alias("n")).collect()}
    assert got == {1: 1, 2: 0, 3: 1}
