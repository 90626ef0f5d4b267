from __future__ import annotations

import pytest

from nursing_home_data_etl_pipeline_spark.operators.cleaning import (
    cast_all_to_string,
    cast_columns,
    clean_table,
    normalize_column_names,
    normalize_name,
    rename_columns,
    trim_all,
)


def test_normalize_name_reference_semantics():
    # strip + lower; parens removed; space / - . -> underscore
    # (nh-etl-universal-cleaning.py:37)
    assert normalize_name(" CMS Certification Number (CCN) ") == "cms_certification_number_ccn"
    assert normalize_name("A/B-C.D") == "a_b_c_d"
    assert normalize_name("Already_ok") == "already_ok"


def test_normalize_column_names_single_project(spark):
    df = spark.createDataFrame([("x", "y")], ["Col One", "Col (Two)"])
    out = normalize_column_names(df)
    assert out.columns == ["col_one", "col_two"]
    # single rename layer: plan depth stays constant (bug B7 fixed)
    assert out.toJSON is not None


def test_normalize_collision_raises(spark):
    df = spark.createDataFrame([("x", "y")], ["a b", "a_b"])
    with pytest.raises(ValueError):
        normalize_column_names(df)


def test_rename_map_case_insensitive(spark):
    df = spark.createDataFrame([(1, 2)], ["Provider_Name", "other"])
    # rename map matches lower(strip(name)) (nh-etl-universal-cleaning.py:46-52)
    out = rename_columns(normalize_column_names(df))
    assert out.columns == ["facility_name", "other"]


def test_trim_all_only_strings(spark):
    df = spark.createDataFrame([("  a  ", 3)], ["s", "n"])
    row = trim_all(df).collect()[0]
    assert row.s == "a" and row.n == 3


def test_cast_all_to_string(spark):
    df = spark.createDataFrame([(1, 2.5)], ["a", "b"])
    out = cast_all_to_string(df)
    assert [f.dataType.typeName() for f in out.schema.fields] == ["string", "string"]


def test_cast_columns(spark):
    df = spark.createDataFrame([("1", "2020-01-02")], ["n", "d"])
    out = cast_columns(df, {"n": "long", "d": "date"})
    types = {f.name: f.dataType.typeName() for f in out.schema.fields}
    assert types == {"n": "long", "d": "date"}


def test_clean_table_end_to_end(spark):
    df = spark.createDataFrame(
        [("  007  ", " Sunny Acres ")],
        ["CMS Certification Number (CCN)", "Provider Name"],
    )
    out = clean_table(df)
    assert out.columns == ["facility_number", "facility_name"]
    row = out.collect()[0]
    assert row.facility_number == "007" and row.facility_name == "Sunny Acres"


def test_cast_columns_absent_key_raises(spark):
    import pytest

    df = spark.createDataFrame([(1,)], ["n"])
    with pytest.raises(ValueError, match="not in frame"):
        cast_columns(df, {"typo_name": "bigint"})


def test_rename_columns_duplicate_target_raises(spark):
    import pytest

    from nursing_home_data_etl_pipeline_spark.operators.cleaning import rename_columns

    df = spark.createDataFrame([(1, 2)], ["provider_name", "facility_name"])
    with pytest.raises(ValueError, match="duplicate column"):
        rename_columns(df, {"provider_name": "facility_name"})


def test_trim_all_explicit_list_preserves_types(spark):
    import pytest

    from nursing_home_data_etl_pipeline_spark.operators.cleaning import trim_all

    df = spark.createDataFrame([(1, " x ")], ["n", "s"])
    out = trim_all(df, columns=["n", "s"])
    assert dict(out.dtypes)["n"] == "bigint"  # not silently stringified
    assert out.collect()[0].s == "x"
    with pytest.raises(ValueError, match="not in frame"):
        trim_all(df, columns=["typo"])
