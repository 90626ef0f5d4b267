from __future__ import annotations

import pytest

from nursing_home_data_etl_pipeline_spark.operators.joins import (
    anti_join,
    latest_per_key,
    left_enrich,
    merge_scd1,
)
from nursing_home_data_etl_pipeline_spark.operators.projections import (
    drop_columns_if_present,
    select_columns,
    select_columns_matching,
)


@pytest.fixture()
def provider(spark):
    return spark.createDataFrame(
        [
            ("F1", "Sunny", "5", "4.0", "2021-01-01"),
            ("F2", "Shady", "3", "2.5", "2021-02-01"),
        ],
        ["facility_number", "facility_name", "overall_rating",
         "adjusted_total_nurse_staffing_hours", "rating_cycle_1_date"],
    )


def test_select_columns_strict(provider):
    with pytest.raises(ValueError):
        select_columns(provider, ["nope"])
    out = select_columns(provider, ["nope", "facility_number"], strict=False)
    assert out.columns == ["facility_number"]


def test_name_predicate_projection_sorted(provider):
    out = select_columns_matching(
        provider, keywords=("rating",), always_include=("facility_number",)
    )
    # sorted output order for deterministic hashes (SURVEY §7.3d)
    assert out.columns == sorted(
        ["facility_number", "overall_rating", "rating_cycle_1_date"]
    )


def test_drop_if_present(provider):
    out = drop_columns_if_present(provider, ["facility_name", "not_there"])
    assert "facility_name" not in out.columns


def test_left_enrich_null_semantics(spark):
    left = spark.createDataFrame([("F1",), ("F2",)], ["facility_number"])
    right = spark.createDataFrame(
        [("F1", "ok", "Sunny")], ["facility_number", "survey", "facility_name"]
    )
    out = left_enrich(left, right, on="facility_number",
                      drop_from_other=["facility_name"]).collect()
    by_key = {r.facility_number: r.survey for r in out}
    assert by_key == {"F1": "ok", "F2": None}


def test_anti_and_semi(spark):
    files = spark.createDataFrame([("a",), ("b",), ("c",)], ["file_id"])
    ledger = spark.createDataFrame([("a",)], ["file_id"])
    assert {r.file_id for r in anti_join(files, ledger, "file_id").collect()} == {"b", "c"}


def test_merge_scd1_upsert(spark):
    target = spark.createDataFrame(
        [("F1", "old", 1), ("F2", "keep", 2)], ["pk", "val", "n"]
    )
    source = spark.createDataFrame(
        [("F1", "new", 10), ("F3", "ins", 30)], ["pk", "val", "n"]
    )
    out = {r.pk: (r.val, r.n) for r in merge_scd1(target, source, ["pk"]).collect()}
    assert out == {"F1": ("new", 10), "F2": ("keep", 2), "F3": ("ins", 30)}


def test_latest_per_key(spark):
    df = spark.createDataFrame(
        [("F1", "a", 1), ("F1", "b", 3), ("F1", "c", 2)], ["pk", "val", "ver"]
    )
    out = latest_per_key(df, ["pk"], "ver").collect()
    assert len(out) == 1 and out[0].val == "b"


def test_latest_per_key_nested_map_value_column(spark):
    """A map whose VALUES are maps cannot be canonicalized (array_sort of
    its entries is unorderable) — it must be excluded from the tiebreak
    and carried, not fail analysis."""
    df = spark.createDataFrame(
        [("F1", {"a": {"x": 1}}, 1), ("F1", {"b": {"y": 2}}, 3)],
        "pk string, attrs map<string,map<string,int>>, ver long",
    )
    out = latest_per_key(df, ["pk"], "ver").collect()
    assert len(out) == 1 and out[0].attrs == {"b": {"y": 2}}


def test_latest_per_key_unordered_mode(spark):
    """order_col=None: the tiebreak-struct-max row wins, deterministically."""
    df = spark.createDataFrame(
        [("F1", "a", 1), ("F1", "b", 3), ("F1", "c", 2)], ["pk", "val", "ver"]
    )
    out = latest_per_key(df, ["pk"], None).collect()
    assert len(out) == 1 and (out[0].val, out[0].ver) == ("c", 2)  # struct max


def test_latest_per_key_map_column(spark):
    """Map-typed payload columns cannot be sort keys; they must be CARRIED
    (not ordered by) — ordering max_by over the full row struct failed
    analysis with INVALID_ORDERING_TYPE for any map-bearing frame."""
    df = spark.createDataFrame(
        [("F1", {"a": 1}, 1), ("F1", {"b": 2}, 3), ("F1", {"c": 3}, 2)],
        "pk string, attrs map<string,int>, ver long",
    )
    out = latest_per_key(df, ["pk"], "ver").collect()
    assert len(out) == 1 and out[0].attrs == {"b": 2} and out[0].ver == 3


def test_merge_scd2_map_tracked_attribute(spark):
    """A map-typed tracked attribute is change-detected via sorted entries
    (order-insensitive, NULL-safe) — the raw struct eqNullSafe failed
    analysis on MapType."""
    from nursing_home_data_etl_pipeline_spark.operators.joins import merge_scd2

    target = spark.createDataFrame(
        [
            (1, {"x": 1, "y": 2}, "2021-01-01", None, True),  # will change
            (2, {"y": 2, "x": 1}, "2021-01-01", None, True),  # same content
            (3, None, "2021-01-01", None, True),  # NULL map both sides
        ],
        "pk int, attrs map<string,int>, valid_from string, valid_to string, "
        "is_current boolean",
    ).selectExpr(
        "pk", "attrs", "CAST(valid_from AS date) valid_from",
        "CAST(valid_to AS date) valid_to", "is_current",
    )
    source = spark.createDataFrame(
        [(1, {"x": 9}), (2, {"x": 1, "y": 2}), (3, None)],
        "pk int, attrs map<string,int>",
    )
    out = merge_scd2(target, source, ["pk"], "2022-06-01").collect()
    current = {r.pk: r for r in out if r.is_current}
    assert current[1].attrs == {"x": 9}  # changed -> new version
    assert str(current[1].valid_from) == "2022-06-01"
    # same content (different insertion order) and NULL==NULL: unchanged
    assert str(current[2].valid_from) == "2021-01-01"
    assert str(current[3].valid_from) == "2021-01-01"
    assert sum(1 for r in out if not r.is_current) == 1  # only k=1 closed


def test_merge_scd2_versions(spark):
    from nursing_home_data_etl_pipeline_spark.operators.joins import merge_scd2

    target = spark.createDataFrame(
        [
            # k=1: one closed history row + a current row that WILL change
            (1, "old", "2020-01-01", "2021-01-01", False),
            (1, "mid", "2021-01-01", None, True),
            # k=2: current row that stays identical in the source
            (2, "same", "2021-01-01", None, True),
            # k=3: current row absent from the source (no-op)
            (3, "keep", "2021-01-01", None, True),
            # k=5: tracked value NULL on both sides -> null-safe unchanged
            (5, None, "2021-01-01", None, True),
        ],
        "pk int, val string, valid_from string, valid_to string, is_current boolean",
    ).selectExpr(
        "pk", "val", "CAST(valid_from AS date) valid_from",
        "CAST(valid_to AS date) valid_to", "is_current",
    )
    source = spark.createDataFrame(
        [(1, "new"), (2, "same"), (4, "insert"), (5, None)],
        "pk int, val string",
    )
    out = merge_scd2(target, source, ["pk"], "2022-06-01")
    rows = {(r.pk, r.val): r for r in out.collect()}
    assert len(rows) == len(out.collect()) == 7
    # changed key: old current closed, new version open
    assert str(rows[(1, "mid")].valid_to) == "2022-06-01"
    assert rows[(1, "mid")].is_current is False
    assert rows[(1, "new")].is_current and str(rows[(1, "new")].valid_from) == "2022-06-01"
    # history row untouched
    assert str(rows[(1, "old")].valid_to) == "2021-01-01"
    # unchanged / absent / null-safe-unchanged keys carry forward open
    for k, v in ((2, "same"), (3, "keep"), (5, None)):
        assert rows[(k, v)].is_current and rows[(k, v)].valid_to is None
        assert str(rows[(k, v)].valid_from) == "2021-01-01"
    # brand-new key inserted open
    assert rows[(4, "insert")].is_current
    assert str(rows[(4, "insert")].valid_from) == "2022-06-01"


def test_merge_scd2_idempotent_reapply(spark):
    from nursing_home_data_etl_pipeline_spark.operators.joins import merge_scd2

    target = spark.createDataFrame(
        [(1, "a", "2020-01-01", None, True)],
        "pk int, val string, valid_from string, valid_to string, is_current boolean",
    ).selectExpr(
        "pk", "val", "CAST(valid_from AS date) valid_from",
        "CAST(valid_to AS date) valid_to", "is_current",
    )
    source = spark.createDataFrame([(1, "b")], "pk int, val string")
    once = merge_scd2(target, source, ["pk"], "2022-06-01")
    twice = merge_scd2(once, source, ["pk"], "2022-06-01")
    # re-applying the same batch is a no-op: the new version matches the
    # source, so nothing closes and nothing inserts
    assert sorted(map(tuple, once.collect())) == sorted(map(tuple, twice.collect()))


def test_latest_per_key_no_tearing_and_odd_names(spark):
    """latest_per_key picks ONE whole row (per-column max_by could tear
    columns across tied rows), breaks order ties deterministically, and
    handles column names that aren't bare SQL identifiers (the f-string
    F.expr formulation raised ParseException on them)."""
    df = spark.createDataFrame(
        [(1, 5, "a", "x"), (1, 5, "b", "y"), (1, 3, "c", "z")],
        ["pk", "order col", "v1", "v2"],
    )
    rows = latest_per_key(df, ["pk"], "order col").collect()
    assert len(rows) == 1
    r = rows[0]
    assert (r.v1, r.v2) in {("a", "x"), ("b", "y")}  # one row, not torn
    # deterministic across reruns
    again = latest_per_key(df, ["pk"], "order col").collect()[0]
    assert (again.v1, again.v2) == (r.v1, r.v2)


def test_merge_scd2_null_key_and_null_is_current(spark):
    """A NULL-key source row inserts (presence markers, not key IS NOT
    NULL, decide sidedness — it used to become an all-NULL phantom), a
    NULL is_current target row is treated as current instead of vanishing,
    and a source missing a tracked column raises instead of silently
    narrowing the dimension schema."""
    import pytest

    from nursing_home_data_etl_pipeline_spark.operators.joins import merge_scd2

    target = spark.createDataFrame(
        [(1, "old", "2020-01-01", None, None)],
        "pk int, val string, valid_from string, valid_to string, is_current boolean",
    ).selectExpr(
        "pk", "val", "CAST(valid_from AS date) valid_from",
        "CAST(valid_to AS date) valid_to", "is_current",
    )
    source = spark.createDataFrame([(None, "ghost")], "pk int, val string")
    out = merge_scd2(target, source, ["pk"], "2022-06-01").collect()
    by_val = {r.val: r for r in out}
    assert "ghost" in by_val and by_val["ghost"].is_current  # inserted, not dropped
    assert by_val["ghost"].pk is None
    assert "old" in by_val  # NULL is_current row survives as current
    assert by_val["old"].is_current

    with pytest.raises(ValueError, match="missing tracked attribute"):
        merge_scd2(target, spark.createDataFrame([(2,)], "pk int"), ["pk"], "2022-06-01")


def test_left_enrich_drop_overlap(spark):
    """drop_overlap: non-key enrich columns whose names already exist on the
    entity side (case-insensitively, Spark's resolution rule) are dropped so
    the join can't produce an AMBIGUOUS_REFERENCE duplicate-name frame; the
    entity row's value wins and genuinely new columns still join."""
    left = spark.createDataFrame(
        [("F1", 10), ("F2", 20)], ["facility_number", "revisit_score"]
    )
    right = spark.createDataFrame(
        [("F1", 99, "2024-05-01")],
        ["facility_number", "Revisit_Score", "survey_date"],
    )
    out = left_enrich(left, right, on="facility_number", drop_overlap=True)
    assert out.columns == ["facility_number", "revisit_score", "survey_date"]
    rows = {r.facility_number: r for r in out.collect()}
    assert rows["F1"].revisit_score == 10 and rows["F1"].survey_date == "2024-05-01"
    assert rows["F2"].survey_date is None
