from __future__ import annotations

from pyspark.sql import functions as F

from nursing_home_data_etl_pipeline_spark.functions.text import (
    avg_word_len,
    char_count,
    distinct_word_ratio,
    fingerprint,
    lang_id,
    normalize_text,
    quality_score,
    stopword_ratio,
    token_count,
)


def _one(spark, text, expr):
    return spark.createDataFrame([(text,)], ["t"]).select(
        expr(F.col("t")).alias("v")
    ).collect()[0].v


def test_counts(spark):
    # tokens: hello, world, ',', foo, '!'
    assert _one(spark, "hello world, foo!", token_count) == 5
    assert _one(spark, "abc", char_count) == 3


def test_ratios(spark):
    assert _one(spark, "a a b b", distinct_word_ratio) == 0.5
    assert _one(spark, "ab cdef", avg_word_len) == 3.0


def test_stopword_and_lang(spark):
    assert _one(spark, "the cat and the dog", lambda c: stopword_ratio(c, "en")) == 0.6
    assert _one(spark, "the cat and the dog is here", lang_id) == "en"
    assert _one(spark, "el perro es grande y la casa", lang_id) == "es"
    assert _one(spark, "zzz qqq www", lang_id) == "und"


def test_quality_bounds(spark):
    for t in ["short", "x " * 100, "!!!! ???? ###"]:
        v = _one(spark, t, quality_score)
        assert 0.0 <= v <= 1.0


def test_fingerprint_normalization(spark):
    a = _one(spark, "  Hello   World ", fingerprint)
    b = _one(spark, "hello world", fingerprint)
    assert a == b


def test_normalize_and_shingles(spark):
    assert _one(spark, " A  b\tC ", normalize_text) == "a b c"


def test_words_blank_and_whitespace_semantics(spark):
    """words(): full-whitespace trim on both ends; blank (including
    tab/newline-only) -> empty array, never empty-string tokens; NULL ->
    NULL. size(words(x)) is therefore a true word count on dirty input."""
    from nursing_home_data_etl_pipeline_spark.functions.text import words

    rows = [
        (1, ""),
        (2, " \t\n  "),
        (3, "\ta b\n"),
        (4, None),
        (5, "one"),
    ]
    df = spark.createDataFrame(rows, "id long, text string")
    got = {
        r.id: r.w
        for r in df.select("id", words(F.col("text")).alias("w")).collect()
    }
    assert got[1] == []
    assert got[2] == []
    assert got[3] == ["a", "b"]  # no phantom '' tokens from edge whitespace
    assert got[4] is None
    assert got[5] == ["one"]


def test_chunk_table_skips_blank_and_null_docs(spark):
    from nursing_home_data_etl_pipeline_spark.operators.chunking import chunk_table

    df = spark.createDataFrame(
        [(1, "a b c"), (2, ""), (3, " \t "), (4, None)],
        "doc_id long, text string",
    )
    out = chunk_table(df, chunk_words=2, overlap=1).collect()
    assert {r.doc_id for r in out} == {1}
    assert all(r.chunk_text for r in out) and all(r.n_words > 0 for r in out)


def test_words_duckdb_twin_lockstep(spark):
    """words() and duck_words_sql() must tokenize IDENTICALLY — the oracle
    twins for text_profile/quality/packing are built on that claim. Runs a
    corpus of nasty strings through both engines in one pass each."""
    import duckdb

    from nursing_home_data_etl_pipeline_spark.functions.text import (
        duck_words_sql,
        words,
    )

    corpus = [
        "", " ", " \t\n  ", "\ta b\n", "a  b", "a\tb", "a\nb", "a\rb",
        "one", " lead", "trail ", "  both  ", "a b c d", "x" * 100,
        "naïve café 北京", "🎉 party 🎉", "a.b,c;d", "tab\t\ttab",
        "\x0b", "a\x0bb", "\x0bvtab lead", "form\x0cfeed",
        "\r\n", "crlf line\r\nnext", "nb sp", "mix \t mix \n mix",
        None,
    ]
    rows = [(i, t) for i, t in enumerate(corpus)]
    sdf = spark.createDataFrame(rows, "id long, text string")
    got_spark = {
        r.id: r.w
        for r in sdf.select("id", words(F.col("text")).alias("w")).collect()
    }
    con = duckdb.connect()
    con.execute("CREATE TABLE t (id BIGINT, text VARCHAR)")
    con.executemany("INSERT INTO t VALUES (?, ?)", rows)
    got_duck = dict(
        con.execute(f"SELECT id, {duck_words_sql('text')} FROM t").fetchall()
    )
    for i, t in enumerate(corpus):
        assert got_spark[i] == got_duck[i], (t, got_spark[i], got_duck[i])
