"""Outcome check for the sync rewrite: run the pipeline_nightly sequence
(bootstrap with drop 1, then incremental with drop 2 added, over the
benchmark's seeded drops) from one checkout and print, as one JSON line,
what the sync and archive steps leave behind:

- the ledger rows (file_id, file_name, path relative to the run root,
  domain), sorted;
- the files of the source, processed and error zones (non-hidden, paths
  relative to each zone), sorted;
- the ``synced`` count of every sync row in ``run_log.jsonl``.

Usage: python3 plans/pr4/outcome.py CHECKOUT WORK_DIR [SEED]

Run it once per checkout with a fresh WORK_DIR each and compare the lines.
"""

from __future__ import annotations

import json
import os
import shutil
import sys

checkout, work = os.path.abspath(sys.argv[1]), os.path.abspath(sys.argv[2])
seed = int(sys.argv[3]) if len(sys.argv) > 3 else 11
sys.path[:0] = [checkout, os.path.join(checkout, "perfbench")]

import cms_landing  # noqa: E402
from workloads import FACILITIES  # noqa: E402

from nursing_home_data_etl_pipeline_spark import pipeline  # noqa: E402
from nursing_home_data_etl_pipeline_spark.session import get_spark  # noqa: E402
from nursing_home_data_etl_pipeline_spark.zones import ZoneLayout  # noqa: E402

truth = cms_landing.write_drops(os.path.join(work, "drops"), seed, FACILITIES)
root = os.path.join(work, "run")
landing = os.path.join(root, "landing")
os.makedirs(landing)
zones = ZoneLayout(os.path.join(root, "zones"))
spark = get_spark("outcome", master="local[2]")
for files in truth.files:
    for f in files:  # hard links keep the drop's mtime, as in the workload
        os.link(f, os.path.join(landing, os.path.basename(f)))
    pipeline.run(spark, zones, landing_dir=landing)

ledger = sorted(
    (r.file_id, r.file_name, os.path.relpath(r.path, root), r.domain)
    for r in spark.read.parquet(f"{zones.root}/ingest_ledger").collect()
)
zone_files = {}
for zone in ("source", "processed", "error"):
    base = zones.path(zone)
    zone_files[zone] = sorted(
        os.path.relpath(os.path.join(d, n), base)
        for d, _, names in os.walk(base)
        for n in names
        if not n.startswith((".", "_"))
    )
with open(os.path.join(zones.root, "run_log.jsonl")) as f:
    synced = [row["detail"]["synced"] for row in map(json.loads, f)
              if row["step"] == "sync" and row["status"] == "SUCCESS"]
print(json.dumps({"ledger": ledger, "zones": zone_files, "synced": synced}))
spark.stop()
shutil.rmtree(work)
