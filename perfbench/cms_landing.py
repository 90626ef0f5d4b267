"""Seeded CMS-shaped landing drops for the ``pipeline_nightly`` workload.

Each seed gives two monthly drops of the four Nursing Home Compare files
that ``sources.ingest.route_filename`` routes (``NH_ProviderInfo_*``,
``NH_QualityMsr_MDS_*``, ``NH_SurveySummary_*``, ``NH_Penalties_*``) plus
one file no rule routes, which the pipeline must quarantine in the error
zone. Values carry the dirt ``clean_table`` exists for: CCNs are
zero-padded strings, some wrapped in spaces, and some text cells are
padded.

Drop 2 keeps most drop-1 facilities, drops a few and adds new ones, and
re-scores every quality measure, so the incremental SCD1 merge has
updates, inserts and untouched rows. :func:`write_drops` returns the
ground truth that the output check compares against: the expected row
count of every warehouse dim after the two runs, and the checksum of the
quality score column that newest-drop-wins implies.
"""

from __future__ import annotations

import csv
import datetime as dt
import os
from dataclasses import dataclass

import numpy as np

#: CMS MDS quality measure codes (17 per facility, as in the real file)
MEASURES = ("401", "403", "404", "405", "406", "407", "409", "410", "415",
            "419", "430", "434", "451", "452", "454", "471", "476")
STATES = ("AL", "AZ", "CA", "FL", "GA", "IL", "NY", "OH", "OR", "PA", "TX",
          "WA")
OWNERSHIP = ("For profit - Corporation", "Non profit - Corporation",
             "Government - County", "For profit - Limited Liability company")
MONTHS = (("Jan2025", dt.datetime(2025, 1, 15, tzinfo=dt.timezone.utc)),
          ("Feb2025", dt.datetime(2025, 2, 15, tzinfo=dt.timezone.utc)))

PROVIDER_HEADER = (
    "CMS Certification Number (CCN)", "Provider Name", "Provider Address",
    "City/Town", "State", "ZIP Code", "Telephone Number",
    "Provider SSA County Code", "County/Parish", "Ownership Type",
    "Number of Certified Beds", "Average Number of Residents per Day",
    "Average Number of Residents per Day Footnote", "Provider Type",
    "Provider Resides in Hospital", "Legal Business Name",
    "Date First Approved to Provide Medicare and Medicaid Services",
    "Affiliated Entity Name", "Affiliated Entity ID",
    "Continuing Care Retirement Community", "Special Focus Status",
    "Abuse Icon", "Overall Rating", "Overall Rating Footnote",
    "Health Inspection Rating", "QM Rating", "Long-Stay QM Rating",
    "Short-Stay QM Rating", "Staffing Rating",
    "Reported Nurse Aide Staffing Hours per Resident per Day",
    "Reported LPN Staffing Hours per Resident per Day",
    "Reported RN Staffing Hours per Resident per Day",
    "Reported Total Nurse Staffing Hours per Resident per Day",
    "Total nursing staff turnover", "Registered Nurse turnover",
    "Case-Mix RN Staffing Hours per Resident per Day",
    "Adjusted Total Nurse Staffing Hours per Resident per Day",
    "Rating Cycle 1 Standard Survey Health Date",
    "Rating Cycle 1 Total Number of Health Deficiencies",
    "Rating Cycle 1 Health Revisit Score",
    "Rating Cycle 2 Total Number of Health Deficiencies",
    "Total Weighted Health Survey Score",
    "Number of Facility Reported Incidents",
    "Number of Substantiated Complaints",
    "Number of Citations from Infection Control Inspections",
    "Number of Fines", "Total Amount of Fines in Dollars",
    "Number of Payment Denials", "Total Number of Penalties", "Location",
    "Processing Date",
)
QUALITY_HEADER = (
    "CMS Certification Number (CCN)", "Provider Name", "Provider Address",
    "City/Town", "State", "ZIP Code", "Measure Code", "Measure Description",
    "Resident type", "Q1 Measure Score", "Footnote for Q1 Measure Score",
    "Q2 Measure Score", "Footnote for Q2 Measure Score", "Q3 Measure Score",
    "Footnote for Q3 Measure Score", "Q4 Measure Score",
    "Footnote for Q4 Measure Score", "Four Quarter Average Score",
    "Footnote for Four Quarter Average Score",
    "Used in Quality Measure Five Star Rating", "Measure Period", "Location",
    "Processing Date",
)
SURVEY_HEADER = (
    "CMS Certification Number (CCN)", "Provider Name", "Provider Address",
    "City/Town", "State", "ZIP Code", "Inspection Cycle", "Health Survey Date",
    "Fire Safety Survey Date", "Total Number of Health Deficiencies",
    "Total Number of Fire Safety Deficiencies",
    "Count of Freedom from Abuse and Neglect and Exploitation Deficiencies",
    "Count of Quality of Life and Care Deficiencies", "Location",
    "Processing Date",
)
PENALTY_HEADER = (
    "CMS Certification Number (CCN)", "Provider Name", "Provider Address",
    "City/Town", "State", "ZIP Code", "Penalty Date", "Penalty Type",
    "Fine Amount", "Payment Denial Start Date",
    "Payment Denial Length in Days", "Location", "Processing Date",
)
#: the score column whose checksum proves newest-drop-wins
CHECKSUM_DIM, CHECKSUM_COL = "dim_quality", "four_quarter_average_score"


@dataclass
class Truth:
    """Ground truth for one seed."""

    dim_rows: dict[str, int]
    checksum_milli: int  # sum of round(score * 1000) over the merged dim
    drop_checksum_milli: tuple[int, int]
    landing_bytes: int
    files: tuple[tuple[str, ...], tuple[str, ...]]  # file paths per drop


def _pad(rng: np.random.Generator, s: str, p: float) -> str:
    return f" {s} " if rng.random() < p else s


def _facility_attrs(rng: np.random.Generator, ccn: int) -> dict:
    state = STATES[ccn % len(STATES)]
    return {
        "name": f"Care Center {ccn:06d}",
        "addr": f"{int(rng.integers(1, 9999))} Elm St",
        "city": f"Town{int(rng.integers(0, 400))}",
        "state": state,
        "zip": f"{int(rng.integers(10000, 99999))}",
        "beds": int(rng.integers(20, 300)),
        "measures": MEASURES[: int(rng.integers(14, len(MEASURES) + 1))],
    }


def _write(path: str, header: tuple[str, ...], rows: list[list]) -> int:
    with open(path, "w", newline="") as f:
        w = csv.writer(f)
        w.writerow(header)
        w.writerows(rows)
    return os.path.getsize(path)


def write_drops(dest: str, seed: int, n_facilities: int = 1500) -> Truth:
    """Write ``dest/drop1`` and ``dest/drop2`` and return the ground truth."""
    rng = np.random.default_rng(seed)
    ccns = 15000 + rng.choice(n_facilities * 20, int(n_facilities * 1.1),
                              replace=False)
    attrs = {int(c): _facility_attrs(rng, int(c)) for c in ccns}
    split = n_facilities
    drop1 = [int(c) for c in ccns[:split]]
    keep = int(n_facilities * 0.95)
    drop2 = drop1[:keep] + [int(c) for c in ccns[split:]]

    rows_by_drop: list[dict] = []
    files: list[tuple[str, ...]] = []
    landing_bytes = 0
    drop_sums = []
    for d, ((month, stamp), facs) in enumerate(zip(MONTHS, (drop1, drop2))):
        out = os.path.join(dest, f"drop{d + 1}")
        os.makedirs(out, exist_ok=True)
        proc = stamp.strftime("%Y-%m-%d")
        prov, qual, surv, pen = [], [], [], []
        scores: dict[tuple[int, str], int] = {}
        n_surv: dict[int, int] = {}
        n_pen: dict[int, int] = {}
        for c in facs:
            a = attrs[c]
            loc = f"{a['addr']} {a['city']} {a['state']} {a['zip']}"
            ccn = _pad(rng, f"{c:06d}", 0.05)
            base = [ccn, _pad(rng, a["name"], 0.05), a["addr"], a["city"],
                    a["state"], a["zip"]]
            ns = int(rng.integers(1, 4))
            npen = int(rng.poisson(0.67))
            n_surv[c], n_pen[c] = ns, npen
            stars = rng.integers(1, 6, 7)
            hours = np.round(rng.uniform(0.2, 4.0, 4), 5)
            prov.append([
                ccn, base[1], a["addr"], a["city"], a["state"], a["zip"],
                f"{int(rng.integers(2000000000, 9999999999))}",
                f"{int(rng.integers(1, 999)):03d}", f"County{c % 97}",
                OWNERSHIP[c % len(OWNERSHIP)], a["beds"],
                round(a["beds"] * float(rng.uniform(0.5, 0.95)), 1), "",
                "Medicare and Medicaid", "N", f"{a['name']} LLC",
                f"{1970 + c % 50}-0{1 + c % 9}-1{c % 9}",
                f"Entity {c % 211}", c % 211, "N", "", "",
                *[int(s) for s in stars[:6]], "" if stars[6] > 1 else "18",
                *[float(h) for h in hours], round(float(rng.uniform(20, 80)), 1),
                round(float(rng.uniform(10, 70)), 1), float(hours[2]),
                float(hours[3]), f"2024-0{1 + c % 9}-0{1 + c % 8}",
                int(rng.integers(0, 30)), int(rng.integers(0, 80)),
                int(rng.integers(0, 30)), round(float(rng.uniform(0, 200)), 3),
                int(rng.integers(0, 10)), int(rng.integers(0, 10)),
                int(rng.integers(0, 5)), npen, npen * 5000, 0, npen, loc, proc,
            ])
            for m in a["measures"]:
                q = np.round(rng.uniform(0, 100, 4), 3)
                avg = round(float(q.mean()), 3)
                scores[(c, m)] = int(round(avg * 1000))
                qual.append([
                    ccn, base[1], a["addr"], a["city"], a["state"], a["zip"],
                    m, f"Measure {m} description", "Long Stay",
                    *[x for v in q for x in (f"{v:.3f}", "")],
                    _pad(rng, f"{avg:.3f}", 0.02), "", "Y",
                    "20240101-20241231", loc, proc,
                ])
            for cyc in range(1, ns + 1):
                surv.append([
                    ccn, base[1], a["addr"], a["city"], a["state"], a["zip"],
                    cyc, f"2024-{cyc:02d}-1{c % 9}", f"2024-{cyc:02d}-2{c % 9}",
                    int(rng.integers(0, 30)), int(rng.integers(0, 10)),
                    int(rng.integers(0, 3)), int(rng.integers(0, 8)), loc, proc,
                ])
            for i in range(npen):
                pen.append([
                    ccn, base[1], a["addr"], a["city"], a["state"], a["zip"],
                    f"2024-{1 + i % 12:02d}-15", "Fine",
                    int(rng.integers(1000, 90000)), "", "", loc, proc,
                ])
        written = [
            (f"NH_ProviderInfo_{month}.csv", PROVIDER_HEADER, prov),
            (f"NH_QualityMsr_MDS_{month}.csv", QUALITY_HEADER, qual),
            (f"NH_SurveySummary_{month}.csv", SURVEY_HEADER, surv),
            (f"NH_Penalties_{month}.csv", PENALTY_HEADER, pen),
            (f"Facility_Notes_{month}.csv", ("note_id", "note"),
             [[i, f"note {i}"] for i in range(25)]),
        ]
        paths = []
        for name, header, rows in written:
            p = os.path.join(out, name)
            landing_bytes += _write(p, header, rows)
            # synced_at is the file mtime: drop 2 must be the newer drop
            ts = stamp.timestamp()
            os.utime(p, (ts, ts))
            paths.append(p)
        files.append(tuple(paths))
        rows_by_drop.append({"scores": scores, "surv": n_surv, "pen": n_pen})
        drop_sums.append(sum(scores.values()))

    # SCD1: a key present in drop 2 takes drop 2's rows; other drop-1 keys
    # survive. Fan-out dims (surveys, penalties) keep one row per
    # facility when it has no child rows (left enrich).
    newest: dict[int, int] = {c: 0 for c in drop1}
    newest.update({c: 1 for c in drop2})
    n_fac = len(newest)
    quality = {}
    for d in (0, 1):
        quality.update(rows_by_drop[d]["scores"])
    dim_rows = {
        "dim_facility": n_fac,
        "dim_staffing": n_fac,
        "dim_rating": n_fac,
        "dim_quality": len(quality),
        "dim_surveys": sum(max(1, rows_by_drop[d]["surv"][c])
                           for c, d in newest.items()),
        "dim_penalties": sum(max(1, rows_by_drop[d]["pen"][c])
                             for c, d in newest.items()),
    }
    return Truth(dim_rows, sum(quality.values()),
                 (drop_sums[0], drop_sums[1]), landing_bytes,
                 (files[0], files[1]))
