"""Seeded input generators: same seed, same bytes; other seed, other
bytes; ground truth consistent with the files."""

import csv
import hashlib
import os

import catalog_data
import cms_landing


def _digests(root: str) -> dict[str, str]:
    out = {}
    for dirpath, _, names in os.walk(root):
        for n in names:
            p = os.path.join(dirpath, n)
            with open(p, "rb") as f:
                out[os.path.relpath(p, root)] = hashlib.sha256(f.read()).hexdigest()
    return out


def test_catalog_data_is_deterministic_per_seed(tmp_path):
    catalog_data.write(str(tmp_path / "a"), 5, scale=0.05)
    catalog_data.write(str(tmp_path / "b"), 5, scale=0.05)
    catalog_data.write(str(tmp_path / "c"), 6, scale=0.05)
    a, b, c = (_digests(str(tmp_path / d)) for d in "abc")
    assert a == b
    assert sorted(a) == sorted(f"{t}.parquet" for t in catalog_data.TABLES)
    # region and nation are fixed; every seeded table differs
    assert {k for k in a if a[k] != c[k]} == {
        f"{t}.parquet" for t in catalog_data.TABLES if t not in ("region", "nation")}


def test_catalog_events_have_a_total_time_order():
    ev = catalog_data.tables(3, scale=0.1)["events"]
    ts = ev.column("ts").to_pylist()
    assert ts == sorted(ts) and len(set(ts)) == len(ts)


def test_cms_drops_are_deterministic_per_seed(tmp_path):
    ta = cms_landing.write_drops(str(tmp_path / "a"), 9, n_facilities=40)
    tb = cms_landing.write_drops(str(tmp_path / "b"), 9, n_facilities=40)
    tc = cms_landing.write_drops(str(tmp_path / "c"), 10, n_facilities=40)
    a, b, c = (_digests(str(tmp_path / d)) for d in "abc")
    assert a == b and (ta.dim_rows, ta.checksum_milli) == (tb.dim_rows, tb.checksum_milli)
    assert a.keys() == c.keys() and a != c


def test_cms_drops_shape_and_truth(tmp_path):
    from nursing_home_data_etl_pipeline_spark.sources.ingest import route_filename

    n = 60
    truth = cms_landing.write_drops(str(tmp_path), 4, n_facilities=n)
    for drop, files in enumerate(truth.files):
        routes = sorted(route_filename(os.path.basename(f)) for f in files)
        assert routes == ["penalties", "provider_info", "qualitymsr_mds",
                          "survey_summary", "unknown"]
        # drop 2 is the newer drop by mtime (the pipeline's recency stamp)
        assert os.path.getmtime(files[0]) == os.path.getmtime(truth.files[drop][0])
    assert os.path.getmtime(truth.files[1][0]) > os.path.getmtime(truth.files[0][0])

    def rows(path):
        with open(path, newline="") as f:
            return list(csv.DictReader(f))

    ccn = "CMS Certification Number (CCN)"
    fac1 = {r[ccn].strip() for r in rows(truth.files[0][0])}
    fac2 = {r[ccn].strip() for r in rows(truth.files[1][0])}
    assert len(fac1) == n and fac1 != fac2
    assert truth.dim_rows["dim_facility"] == len(fac1 | fac2)
    # some CCNs carry whitespace the cleaning step must trim
    raw = [r[ccn] for d in (0, 1) for r in rows(truth.files[d][0])]
    assert all(len(c.strip()) == 6 for c in raw)
    assert any(c != c.strip() for c in raw)

    # the checksum is newest-drop-wins over (facility, measure)
    score = "Four Quarter Average Score"
    newest = {}
    for d in (0, 1):
        for r in rows(truth.files[d][1]):
            newest[(r[ccn].strip(), r["Measure Code"])] = round(float(r[score]) * 1000)
    assert truth.dim_rows["dim_quality"] == len(newest)
    assert truth.checksum_milli == sum(newest.values())
    assert truth.drop_checksum_milli[0] != truth.drop_checksum_milli[1]
