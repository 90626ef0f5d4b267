"""Ingest layer (SURVEY.md §2.1 S5-S9), reference behavior re-expressed:
S5 landing-dir model for the out-of-scope Drive source
(``sync-drive-to-s3.py:97-104``); S7 manifest dedup as a Parquet ledger,
read once per sync and diffed against the listing as a driver-side set
(``sync-drive-to-s3.py:47-48,108-131``); S8 filename router
(``sync-drive-to-s3.py:40-45`` + ``script/config.json``): normalize, then
substring-match a pattern->domain table with ``_DEFAULT`` fallback; S9
archival move (``move_sources_files.py:19-42``): known -> processed,
unknown -> error, then remove. Full notes: docs/DESIGN.md#ingest-module."""

from __future__ import annotations

import hashlib
import os
import shutil
from dataclasses import dataclass
from pathlib import Path
from typing import NamedTuple

import pyarrow as pa
from pyspark.sql import Row, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..zones import ZoneLayout

#: Default routing table — pattern fragment -> domain prefix. Mirrors the
#: reference's FILE_TYPE_MAPPING (script/config.json:7-13).
DEFAULT_FILE_TYPE_MAPPING: dict[str, str] = {
    "providerinfo": "provider_info",
    "penalties": "penalties",
    "surveysummary": "survey_summary",
    "qualitymsrmds": "qualitymsr_mds",
    "_DEFAULT": "unknown",
}

LEDGER_SCHEMA = T.StructType(
    [
        T.StructField("file_id", T.StringType(), False),
        T.StructField("file_name", T.StringType(), True),
        T.StructField("path", T.StringType(), True),
        T.StructField("domain", T.StringType(), True),
        T.StructField("synced_at", T.TimestampType(), True),
    ]
)


def _file_md5(path: str) -> str:
    h = hashlib.md5()
    with open(path, "rb") as f:
        for chunk in iter(lambda: f.read(1 << 20), b""):
            h.update(chunk)
    return h.hexdigest()


def _require_local_root(path: str, what: str) -> None:
    """The os/shutil file installs see a URI-scheme root (``file://``,
    ``s3a://``) as a literal relative dir: files land in a phantom local
    dir while the ledger records them synced — permanent silent loss
    (round-8 IO hunt). Fail loudly; object-store zones take the Spark-side
    ingest path or a fuse mount."""
    if "://" in str(path):
        raise ValueError(
            f"{what} requires a LOCAL-filesystem zone root (os/shutil file "
            f"ops), got {path!r} — for object-store roots use the "
            "Spark-side readers/writers or mount the store locally"
        )


def _sweep_stale_tmps(dest_dir: str) -> None:
    """Remove dot-prefixed ``.*.__tmp<pid>`` leftovers from crashed syncs;
    tmps whose pid is still ALIVE are spared (a concurrent sync's tmp must
    not vanish under its rename). OLD non-dot ``<name>.__tmp`` names can
    be legitimate landing files — manual migration, never auto-deleted."""
    for stale in Path(dest_dir).glob(".*.__tmp*"):
        suffix = stale.name.rsplit("__tmp", 1)[-1]
        # isdecimal, not isdigit: isdigit() accepts unicode digit classes
        # (superscript '¹') that int() rejects — one such planted filename
        # crashed every subsequent sync (round-8 IO hunt).
        if suffix.isdecimal():
            try:
                os.kill(int(suffix), 0)
                continue  # owner process alive: in-flight, leave it
            except ProcessLookupError:
                pass  # owner dead: crash leftover
            except PermissionError:
                continue  # alive under another uid
            except (ValueError, OverflowError):
                pass  # not a real pid (absurd length): crash leftover
        stale.unlink(missing_ok=True)


def normalize_filename(name: str) -> str:
    """Reference filename normalization (sync-drive-to-s3.py:41-44):
    drop the ``NH_`` prefix and underscores, lowercase, strip extension."""
    base = name.rsplit(".", 1)[0]
    return base.replace("NH_", "").replace("_", "").lower()


def route_filename(
    name: str, mapping: dict[str, str] | None = None
) -> str:
    """S8: first pattern whose fragment is contained in the normalized name
    wins (insertion order, as the reference's dict iteration); ``_DEFAULT``
    otherwise."""
    mapping = mapping or DEFAULT_FILE_TYPE_MAPPING
    norm = normalize_filename(name)
    for pattern, domain in mapping.items():
        if pattern != "_DEFAULT" and pattern in norm:
            return domain
    return mapping.get("_DEFAULT", "unknown")


class LandingFile(NamedTuple):
    """One routed landing file: a ledger row without its synced_at stamp."""

    file_id: str
    file_name: str
    path: str
    domain: str


@dataclass
class IngestLedger:
    """S7: Parquet-backed ingest ledger, read once per sync and diffed on
    the driver (:func:`unsynced`)."""

    spark: SparkSession
    path: str

    def read(self) -> list[Row]:
        """Every ledger row, collected: one Spark job, none before the
        first record. Bootstrap is an explicit filesystem probe, not an
        exception fallback: a CORRUPT ledger must fail loudly, not read as
        empty and re-ingest everything (missing-vs-broken, ADVICE round 1)."""
        from .readers import data_files_exist

        if not data_files_exist(self.spark, self.path):
            return []
        return self.spark.read.schema(LEDGER_SCHEMA).parquet(self.path).collect()

    def record(self, files: list[LandingFile]) -> None:
        """Append newly synced files with a synced_at stamp: one write of
        an Arrow-built frame, which the JVM decodes without a Python worker."""
        table = pa.table(
            {name: [getattr(f, name) for f in files] for name in LandingFile._fields}
        )
        (
            self.spark.createDataFrame(table, LEDGER_SCHEMA[:4])
            .select(*LandingFile._fields, F.current_timestamp().alias("synced_at"))
            .write.mode("append")
            .parquet(self.path)
        )


def list_landing_files(
    landing_dir: str, mapping: dict[str, str] | None = None
) -> list[LandingFile]:
    """Landing-dir listing, each file routed by :func:`route_filename`.
    file_id = RELATIVE path + size + mtime (basename alone collided across
    subdirs and shadowed ledger entries) — the analog of the reference's
    Drive file_id; file_name stays the basename for routing.
    Design notes: docs/DESIGN.md#ingest-list-landing-files"""
    rows = []
    base = Path(landing_dir)
    if base.exists():
        for p in sorted(base.rglob("*")):
            if p.is_file():
                # HIDDEN path components ('.'/'_' prefix, the Hadoop
                # convention) are skipped entirely: syncing one would
                # ledger-record data every reader skips (loss that LOOKS
                # ingested) and collide with the __tmp namespace.
                rel_parts = p.relative_to(base).parts
                if any(part.startswith((".", "_")) for part in rel_parts):
                    continue
                st = p.stat()
                rows.append(
                    LandingFile(
                        f"{p.relative_to(base)}:{st.st_size}:{int(st.st_mtime_ns)}",
                        p.name,
                        str(p),
                        route_filename(p.name, mapping),
                    )
                )
    return rows


def unsynced(listing: list[LandingFile], ledger_rows: list[Row]) -> list[LandingFile]:
    """Files in ``listing`` whose file_id is not in the ledger — the
    reference's manifest skip (sync-drive-to-s3.py:109-111) as a
    driver-side set difference."""
    synced = {r.file_id for r in ledger_rows}
    return [f for f in listing if f.file_id not in synced]


def sync_landing_to_source(
    spark: SparkSession,
    landing_dir: str,
    zones: ZoneLayout,
    ledger: IngestLedger,
    mapping: dict[str, str] | None = None,
    dry_run: bool = False,
) -> int:
    """The reference's sync Lambda as an engine op: list and route landing
    files, skip already-ingested ones (ledger diff), copy into
    ``source/{domain}/``, record in the ledger. Returns files synced.
    ``dry_run`` mirrors the reference's side-effect-free rehearsal mode
    (sync-drive-to-s3.py:68-71). Spark work: one ledger read (none before
    the first record) and one ledger append."""
    _require_local_root(zones.root, "sync_landing_to_source")
    listing = list_landing_files(landing_dir, mapping)
    ledger_rows = ledger.read()  # the one scan: feeds the diff AND the claims
    new = unsynced(listing, ledger_rows)
    if dry_run or not new:  # no-op poll: skip the claims build entirely
        return len(new)
    # Flatten the RELATIVE landing path into the destination name, with
    # destination collisions checked BY PROVENANCE (same relative path
    # re-syncs over its own copy; two different paths claiming one
    # destination raise) — rationale: docs/DESIGN.md#ingest-module.
    base = os.path.realpath(landing_dir)

    def _rel(path: str) -> str | None:
        # Resolve symlinks in the DIRECTORY part only (so a symlinked
        # spelling of the landing dir keeps its claims across runs) but
        # never the file itself — a landing file that is a symlink to a
        # target outside landing_dir is still a landing file.
        d, name = os.path.split(path)
        rel_dir = os.path.relpath(os.path.realpath(d), base)
        if rel_dir == ".." or rel_dir.startswith(".." + os.sep):
            return None  # outside this landing dir (e.g. a foreign ledger row)
        return name if rel_dir == "." else os.path.join(rel_dir, name)

    claimed: dict[tuple[str, str], str] = {}
    for lr in ledger_rows:
        lrel = _rel(lr.path)
        if lrel is not None:
            claimed[(lr.domain, lrel.replace(os.sep, "__"))] = lrel
    swept: set[str] = set()
    for r in new:
        dest_dir = zones.source(r.domain)
        os.makedirs(dest_dir, exist_ok=True)
        if dest_dir not in swept:  # once per domain dir, not per file
            _sweep_stale_tmps(dest_dir)
            swept.add(dest_dir)
        rel = _rel(r.path)
        if rel is None:  # cannot happen for rows listed under landing_dir
            raise ValueError(f"listed file {r.path!r} not under {landing_dir!r}")
        dest_name = rel.replace(os.sep, "__")
        dest = os.path.join(dest_dir, dest_name)
        prior = claimed.get((r.domain, dest_name))
        if prior is not None and prior != rel:
            raise FileExistsError(
                f"sync destination collision in domain {r.domain!r}: landing "
                f"files {prior!r} and {rel!r} both flatten to {dest_name!r}"
            )
        if prior is None and os.path.exists(dest):
            # Ledger-unclaimed orphan from a crashed copy-then-record
            # run: a hash-identical retry may proceed; anything else
            # refuses (the orphan may be the only copy of a file since
            # deleted from landing).
            if _file_md5(r.path) != _file_md5(dest):
                raise FileExistsError(
                    f"sync destination {dest!r} exists with no ledger claim "
                    f"and differs from landing file {rel!r}; refusing to "
                    "overwrite an unknown-origin file"
                )
        claimed[(r.domain, dest_name)] = rel
        # Atomic install via dot-prefixed pid-suffixed tmp + os.replace:
        # no partial file can land in the data namespace; stale crash
        # leftovers swept per domain dir (_sweep_stale_tmps) —
        # docs/DESIGN.md#ingest-module.
        tmp = os.path.join(dest_dir, f".{dest_name}.__tmp{os.getpid()}")
        shutil.copy2(r.path, tmp)
        os.replace(tmp, dest)
    ledger.record(new)
    return len(new)


def archive_source_files(
    spark: SparkSession, zones: ZoneLayout, known_domains: set[str]
) -> dict[str, int]:
    """S9: move raw domain folders out of the source zone — known domains
    to processed, unknown to error (move_sources_files.py:19-42). Returns
    counts per destination zone."""
    _require_local_root(zones.root, "archive_source_files")
    moved = {"processed": 0, "error": 0}
    for domain in zones.list_domains("source", spark):
        dest_zone = "processed" if domain in known_domains else "error"
        src = Path(zones.source(domain))
        dest = Path(zones.path(dest_zone, domain))
        dest.mkdir(parents=True, exist_ok=True)
        for f in sorted(src.iterdir()):
            # Hadoop hidden-file convention: a bare is_file() once moved a
            # CONCURRENT sync's live .__tmp<pid> out from under its
            # os.replace (round-8 IO hunt).
            if not f.is_file() or f.name.startswith((".", "_")):
                continue
            # Re-dropped stable names version with a counter BEFORE the
            # extension so they keep matching zone globs (round-9 ADVICE);
            # archive must make progress, so it versions, never raises.
            target = dest / f.name
            n = 1
            while target.exists():
                target = dest / f"{f.stem}.{n}{f.suffix}"
                n += 1
            shutil.move(str(f), str(target))
            moved[dest_zone] += 1
        if not any(src.iterdir()):
            src.rmdir()
    return moved
