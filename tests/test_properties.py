"""Property-based tests (hypothesis) for the pure driver-side functions and
key operator invariants. Spark-materializing properties use few examples
(each example is a Spark job); pure-Python properties use many."""

from __future__ import annotations

import re

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from nursing_home_data_etl_pipeline_spark.operators.cleaning import normalize_name
from nursing_home_data_etl_pipeline_spark.sources.ingest import (
    DEFAULT_FILE_TYPE_MAPPING,
    normalize_filename,
    route_filename,
)

names = st.text(
    alphabet=st.characters(codec="ascii", exclude_characters="\x00"), max_size=40
)


@given(names)
def test_normalize_name_idempotent(name):
    once = normalize_name(name)
    assert normalize_name(once) == once


@given(names)
def test_normalize_name_no_specials(name):
    out = normalize_name(name)
    assert not re.search(r"[A-Z() /.\-]", out)
    assert out == out.strip()


@given(names)
def test_route_filename_total(name):
    # every name routes somewhere, and the fallback is the declared default
    domain = route_filename(name)
    assert domain in set(DEFAULT_FILE_TYPE_MAPPING.values())


@given(st.text(alphabet="abcNH_", max_size=20))
def test_normalize_filename_strips_markers(name):
    out = normalize_filename(name)
    assert "NH_" not in out and "_" not in out
    assert out == out.lower()


# --- Spark-backed invariants: few, small examples ---------------------------

rows = st.lists(
    st.tuples(st.sampled_from(["a", "b", "c", "d"]), st.integers(0, 100)),
    min_size=0,
    max_size=12,
)


@settings(max_examples=8, deadline=None, suppress_health_check=list(HealthCheck))
@given(target_rows=rows, source_rows=rows)
def test_merge_scd1_matches_dict_semantics(spark, target_rows, source_rows):
    from nursing_home_data_etl_pipeline_spark.operators.joins import (
        latest_per_key,
        merge_scd1,
    )
    from pyspark.sql import types as T

    schema = T.StructType(
        [T.StructField("pk", T.StringType()), T.StructField("v", T.LongType())]
    )
    # dedupe inputs per key (MERGE precondition) via latest_per_key
    target = latest_per_key(spark.createDataFrame(target_rows, schema), ["pk"], "v")
    source = latest_per_key(spark.createDataFrame(source_rows, schema), ["pk"], "v")

    expected = {k: max(v for kk, v in target_rows if kk == k) for k, _ in target_rows}
    expected.update(
        {k: max(v for kk, v in source_rows if kk == k) for k, _ in source_rows}
    )
    got = {r.pk: r.v for r in merge_scd1(target, source, ["pk"]).collect()}
    assert got == expected


interval_rows = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=6),      # key
        st.integers(min_value=-50, max_value=200),  # lo
        st.integers(min_value=0, max_value=120),    # span
    ),
    min_size=1,
    max_size=25,
)
point_rows = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=6),
        st.integers(min_value=-60, max_value=260),
    ),
    min_size=1,
    max_size=40,
)


@settings(max_examples=8, deadline=None, suppress_health_check=list(HealthCheck))
@given(point_rows, interval_rows, st.sampled_from([7, 30, 64, 500]))
def test_range_join_matches_naive_for_any_width(spark, points, intervals, width):
    """Bucketized range join == naive theta join for ANY bucket width
    (width only changes the plan, never the result), including negative
    coordinates, empty-range intervals (span 0), and duplicate rows."""
    from nursing_home_data_etl_pipeline_spark.operators.ranges import (
        range_join_points,
    )

    pdf = spark.createDataFrame(
        [(i, k, x) for i, (k, x) in enumerate(points)], "pid long, k long, x long"
    )
    idf = spark.createDataFrame(
        [(i, k, lo, lo + span) for i, (k, lo, span) in enumerate(intervals)],
        "iid long, k long, lo long, hi long",
    )
    got = sorted(
        (r.pid, r.iid)
        for r in range_join_points(
            pdf, idf, "x", "lo", "hi", on="k", bucket_width=width
        ).collect()
    )
    want = sorted(
        (p_i, i_i)
        for p_i, (pk, px) in enumerate(points)
        for i_i, (ik, ilo, ispan) in enumerate(intervals)
        if pk == ik and ilo <= px < ilo + ispan
    )
    assert got == want


# ---------------------------------------------------------------------------
# SCD2 merge invariants (Spark-materializing: few examples)
# ---------------------------------------------------------------------------

import pytest  # noqa: E402


@pytest.mark.usefixtures("spark")
@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    tgt_vals=st.lists(
        st.tuples(st.integers(0, 6), st.none() | st.integers(0, 3)),
        min_size=0,
        max_size=8,
        unique_by=lambda t: t[0],
    ),
    src_vals=st.lists(
        st.tuples(st.integers(0, 6), st.none() | st.integers(0, 3)),
        min_size=0,
        max_size=8,
        unique_by=lambda t: t[0],
    ),
)
def test_merge_scd2_invariants(spark, tgt_vals, src_vals):
    """For ANY current-only target and unique-key source: (a) every key has
    exactly one current row; (b) a key's current value equals the source's
    when present, else the target's; (c) closed rows appear only for keys
    whose value actually changed (null-safe)."""
    from nursing_home_data_etl_pipeline_spark.operators.joins import merge_scd2

    if not tgt_vals and not src_vals:
        return
    target = spark.createDataFrame(
        [(k, v, "2020-01-01", None, True) for k, v in tgt_vals] or None,
        "pk int, val int, valid_from string, valid_to string, is_current boolean",
    ).selectExpr(
        "pk", "val", "CAST(valid_from AS date) valid_from",
        "CAST(valid_to AS date) valid_to", "is_current",
    ) if tgt_vals else spark.createDataFrame(
        [], "pk int, val int, valid_from date, valid_to date, is_current boolean"
    )
    source = spark.createDataFrame(
        src_vals or [], "pk int, val int"
    )
    out = merge_scd2(target, source, ["pk"], "2022-06-01").collect()

    tgt, src = dict(tgt_vals), dict(src_vals)
    current = {r.pk: r for r in out if r.is_current}
    all_keys = set(tgt) | set(src)
    assert set(current) == all_keys  # (a) exactly-one-current per key
    assert sum(1 for r in out if r.is_current) == len(all_keys)
    for k in all_keys:  # (b) current value source-wins
        expect = src[k] if k in src else tgt[k]
        assert current[k].val == expect and current[k].valid_to is None
    closed = [r for r in out if not r.is_current]
    changed = {k for k in set(tgt) & set(src) if tgt[k] != src[k]}
    assert {r.pk for r in closed} == changed  # (c) closures iff changed
    for r in closed:
        assert str(r.valid_to) == "2022-06-01" and r.val == tgt[r.pk]


@pytest.mark.usefixtures("spark")
@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    keys=st.lists(st.integers(-(10**9), 10**9), min_size=1, max_size=40, unique=True),
    n_shards=st.integers(1, 7),
)
def test_dense_id_sharded_equals_flat_property(spark, keys, n_shards):
    """For ANY unique key set and shard count, the sharded two-level dense id
    must emit exactly the flat global-sort ids: a dense 1..N permutation in
    key order, independent of range-boundary placement."""
    from nursing_home_data_etl_pipeline_spark.operators.ids import (
        with_dense_id,
        with_dense_id_sharded,
    )

    df = spark.createDataFrame([(k,) for k in keys], "k long").repartition(3)
    flat = {r.k: r.row_id for r in with_dense_id(df, ["k"]).collect()}
    shard = {
        r.k: r.row_id
        for r in with_dense_id_sharded(df, ["k"], n_shards=n_shards).collect()
    }
    assert shard == flat
    assert sorted(shard.values()) == list(range(1, len(keys) + 1))
    assert [k for k, _ in sorted(shard.items(), key=lambda t: t[1])] == sorted(keys)


# ---------------------------------------------------------------------------
# As-of join vs a naive quadratic model
# ---------------------------------------------------------------------------

_asof_left = st.lists(
    st.tuples(
        st.none() | st.integers(0, 3),  # key (NULL never matches)
        st.none() | st.integers(0, 40),  # ts (NULL never matches)
    ),
    min_size=1,
    max_size=20,
)
_asof_right = st.lists(
    st.tuples(
        st.none() | st.integers(0, 3),
        st.none() | st.integers(0, 40),
        st.integers(0, 9),  # value; duplicate (key, ts) pairs exercise ties
    ),
    min_size=0,
    max_size=20,
)


@pytest.mark.usefixtures("spark")
@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(left_rows=_asof_left, right_rows=_asof_right)
def test_asof_join_matches_naive_model(spark, left_rows, right_rows):
    """For ANY inputs — NULL keys/timestamps on either side, duplicate
    (key, ts) right rows — the union+window as-of join must equal the naive
    quadratic model: greatest right ts <= left ts within the key, NULLs
    never matching, equal-ts duplicates resolved to the greatest value
    struct (the documented deterministic tiebreak)."""
    from nursing_home_data_etl_pipeline_spark.operators.asof import asof_join

    left = spark.createDataFrame(
        [(i, k, ts) for i, (k, ts) in enumerate(left_rows)],
        "lid long, k long, ts long",
    )
    right = spark.createDataFrame(
        [(k, ts, v) for k, ts, v in right_rows] or [],
        "k long, rts long, v long",
    )
    got = {
        r.lid: (r.v_asof, r.rts_asof)
        for r in asof_join(left, right, on="k", left_ts="ts", right_ts="rts").collect()
    }
    want = {}
    for i, (lk, lts) in enumerate(left_rows):
        cands = [
            (rts, v)
            for rk, rts, v in right_rows
            if lk is not None and rk == lk and rts is not None
            and lts is not None and rts <= lts
        ]
        if cands:
            # carry = greatest (ts, value-struct); struct fields are (v, rts)
            # so among equal-ts duplicates the max v wins
            rts, v = max(cands, key=lambda c: (c[0], c[1]))
            want[i] = (v, rts)
        else:
            want[i] = (None, None)
    assert got == want


# ---------------------------------------------------------------------------
# Exact dedup and n-gram Jaccard vs naive models
# ---------------------------------------------------------------------------

_texts = st.lists(
    st.none()
    | st.text(alphabet="ab \t\n", max_size=30),  # tiny alphabet -> collisions
    min_size=1,
    max_size=15,
)


def _norm_py(t):
    import re

    return re.sub(r"\s+", " ", t.lower()).strip() if t is not None else None


def _shingles_py(t, k):
    """Python model of dedup.shingle_table's word-k-gram set: None for
    NULL/blank (no shingles -> never pairs), whole text when shorter than
    k words. One definition for every model test so they cannot drift."""
    n = _norm_py(t)
    if not n:
        return None
    w = n.split(" ")
    if len(w) <= k:
        return {" ".join(w)}
    return {" ".join(w[i : i + k]) for i in range(len(w) - k + 1)}


@pytest.mark.usefixtures("spark")
@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(texts=_texts)
def test_exact_dedup_matches_naive_model(spark, texts):
    """For ANY text multiset (NULLs, blanks, whitespace variants): one
    min-id survivor per normalized fingerprint; NULL texts pass through
    undeduped."""
    import hashlib

    from nursing_home_data_etl_pipeline_spark.operators.dedup import exact_dedup

    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    got = sorted(r.doc_id for r in exact_dedup(df).collect())
    survivors = {}
    nulls = []
    for i, t in enumerate(texts):
        if t is None:
            nulls.append(i)
            continue
        fp = hashlib.md5(_norm_py(t).encode()).hexdigest()
        survivors[fp] = min(survivors.get(fp, i), i)
    assert got == sorted(list(survivors.values()) + nulls)


@pytest.mark.usefixtures("spark")
@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    texts=st.lists(
        st.none() | st.text(alphabet="abc \n", max_size=40),
        min_size=1,
        max_size=10,
    ),
    k=st.sampled_from([2, 3]),
)
def test_ngram_jaccard_matches_naive_model(spark, texts, k):
    """For ANY text multiset: exact shingle-set Jaccard for every pair
    sharing a shingle, NULL/blank docs never pairing, short docs
    contributing their whole text as one shingle."""
    from nursing_home_data_etl_pipeline_spark.operators.dedup import (
        ngram_jaccard_pairs,
    )

    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    got = {
        (r.id_a, r.id_b): (r.n_common, r.jaccard)
        for r in ngram_jaccard_pairs(
            df, shingle_k=k, threshold=0.0, hot_shingle_cap=10_000
        ).collect()
    }

    sets = {i: _shingles_py(t, k) for i, t in enumerate(texts)}
    want = {}
    for a in sets:
        for b in sets:
            if a < b and sets[a] and sets[b]:
                inter = len(sets[a] & sets[b])
                if inter:
                    j = round(inter / len(sets[a] | sets[b]), 6)
                    want[(a, b)] = (inter, j)
    assert got == want


# ---------------------------------------------------------------------------
# MinHash signatures and SimHash vs bit-exact Python models
# ---------------------------------------------------------------------------


@pytest.mark.usefixtures("spark")
@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    texts=st.lists(
        st.none() | st.text(alphabet="abc \n", max_size=40),
        min_size=1,
        max_size=8,
    )
)
def test_minhash_signatures_match_python_model(spark, texts):
    """The Kirsch-Mitzenmacher double-hashed MinHash signature is pure
    md5 + integer arithmetic — a Python reimplementation must reproduce it
    BIT-EXACTLY for any input (the portability contract every DuckDB
    oracle twin relies on)."""
    import hashlib

    from nursing_home_data_etl_pipeline_spark.operators.dedup import (
        MINHASH_P,
        minhash_signatures,
    )

    k, num_hashes = 3, 6
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    got = {
        r.doc_id: tuple(r[f"mh_{s}"] for s in range(num_hashes))
        for r in minhash_signatures(
            df, num_hashes=num_hashes, shingle_k=k
        ).collect()
    }

    want = {}
    for i, t in enumerate(texts):
        sh = _shingles_py(t, k)
        if not sh:
            continue  # NULL/blank docs emit no signature
        sig = []
        for s in range(num_hashes):
            best = None
            for x in sh:
                d = hashlib.md5(x.encode()).hexdigest()
                h1, h2 = int(d[:12], 16), int(d[12:24], 16)
                v = (h1 + s * h2) % MINHASH_P
                best = v if best is None or v < best else best
            sig.append(best)
        want[i] = tuple(sig)
    assert got == want


@pytest.mark.usefixtures("spark")
@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    texts=st.lists(
        st.none() | st.text(alphabet="abcd \t\n", max_size=40),
        min_size=1,
        max_size=8,
    )
)
def test_simhash_signatures_match_python_model(spark, texts):
    """The 60-bit SimHash is md5-derived bit arithmetic — a Python
    reimplementation must reproduce every signature bit-exactly, with
    NULL/blank docs emitting none."""
    import hashlib
    import re

    from nursing_home_data_etl_pipeline_spark.operators.dedup import (
        SIMHASH_BITS,
        simhash_signatures,
    )

    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    got = {r.doc_id: r.simhash for r in simhash_signatures(df).collect()}

    want = {}
    for i, t in enumerate(texts):
        if t is None or _norm_py(t) == "":
            continue
        # Model the blank-safe words() tokenizer exactly: full whitespace
        # trim on both ends, then split — NO phantom ''-token from edge
        # tab/newline whitespace (the old F.trim+split form injected one,
        # and md5('') voted in all 60 bit sums).
        stripped = re.sub(r"^\s+|\s+$", "", t.lower())
        toks = set(re.split(r"\s+", stripped)) if stripped else set()
        sig = 0
        for j in range(SIMHASH_BITS):
            s = 0
            for tok in toks:
                h = int(hashlib.md5(tok.encode()).hexdigest()[:15], 16)
                s += 1 if (h >> j) & 1 else -1
            if s > 0:
                sig |= 1 << j
        want[i] = sig
    assert got == want
