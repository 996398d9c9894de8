"""The manifest table format: its on-disk layout and its rules, in one place.

Layout of a manifest-committed table:

    <table>/_batch_id=<n>/part-*.parquet      data batch n (immutable once
                                              committed; n < 0 is a
                                              compacted base)
    <table>/_manifests/v000000000042.json     manifest version 42 (immutable)
    <table>/_manifests/_last_checkpoint.json  advisory latest-version pointer
    <table>/_deletes/d00000007/part-*.parquet equality-delete key file 7
    <table>/_blooms/b00000003.bin             bloom sidecar of batch 3

A manifest is the complete snapshot definition: the seven fields of
EMPTY_MANIFEST (written by streaming/manifest.commit_version).

This is the one table format: lakehouse row tables and streaming state
tables alike commit and read through this log. The driver-side
operations (streaming/manifest.py, streaming/__init__.py) read it over
the session's Hadoop FileSystem (`storage.HadoopBackend`), the Python
DataSource readers (manifest_stream, manifest_cdf_stream) over local,
memory:// or fsspec backends. The CDF planner and readers also run
inside Python workers, so this module imports only the stdlib and
`storage` — never pyspark.
"""

from __future__ import annotations

import copy
import json

from .storage import StorageBackend

MANIFEST_DIR = "_manifests"
DELETE_DIR = "_deletes"
BLOOM_DIR = "_blooms"
CHECKPOINT_FILE = "_last_checkpoint.json"
BATCH_PREFIX = "_batch_id="

# the manifest record's fields, as an empty table reads (version -1)
EMPTY_MANIFEST = {
    "version": -1,
    "batch_ids": [],
    "horizon": None,
    "delete_ids": [],
    "delete_cutoffs": {},
    "stats": {},
    "blooms": {},
}


# --------------------------------------------------------------------------
# Layout
# --------------------------------------------------------------------------


def manifest_dir(table_dir: str) -> str:
    return f"{table_dir.rstrip('/')}/{MANIFEST_DIR}"


def version_path(table_dir: str, version: int) -> str:
    return f"{manifest_dir(table_dir)}/v{version:012d}.json"


def checkpoint_path(table_dir: str) -> str:
    return f"{manifest_dir(table_dir)}/{CHECKPOINT_FILE}"


def batch_path(table_dir: str, batch_id: int) -> str:
    return f"{table_dir.rstrip('/')}/{BATCH_PREFIX}{batch_id}"


def delete_dir(table_dir: str) -> str:
    return f"{table_dir.rstrip('/')}/{DELETE_DIR}"


def delete_path(table_dir: str, delete_id: int) -> str:
    return f"{delete_dir(table_dir)}/d{delete_id:08d}"


def bloom_path(table_dir: str, batch_id: int) -> str:
    return f"{table_dir.rstrip('/')}/{BLOOM_DIR}/b{batch_id:08d}.bin"


def _parquet_files(fs: StorageBackend, d: str) -> list[str]:
    return [f"{d}/{n}" for n in sorted(fs.listdir(d)) if n.endswith(".parquet")]


def batch_files(fs: StorageBackend, table_dir: str, batch_id: int) -> list[str]:
    """The parquet data files of one batch, sorted; [] if absent."""
    return _parquet_files(fs, batch_path(table_dir, batch_id))


def delete_files(fs: StorageBackend, table_dir: str, delete_id: int) -> list[str]:
    """The parquet key files of one delete, sorted; [] if absent."""
    return _parquet_files(fs, delete_path(table_dir, delete_id))


def list_batch_ids(fs: StorageBackend, table_dir: str) -> list[int]:
    """Every `_batch_id=<n>` directory on disk, committed or not, sorted."""
    root = table_dir.rstrip("/")
    return sorted(
        int(n[len(BATCH_PREFIX):])
        for n in fs.listdir(root)
        if n.startswith(BATCH_PREFIX) and fs.isdir(f"{root}/{n}")
    )


def list_delete_ids(fs: StorageBackend, table_dir: str) -> list[int]:
    """Every delete-key directory on disk, committed or not, sorted."""
    return sorted(
        int(n[1:])
        for n in fs.listdir(delete_dir(table_dir))
        if n.startswith("d") and n[1:].isdigit()
    )


# --------------------------------------------------------------------------
# Reading the log
# --------------------------------------------------------------------------


def _read_json(fs: StorageBackend, path: str):
    with fs.open(path, "rb") as f:
        return json.loads(f.read().decode("utf-8"))


def list_versions(fs: StorageBackend, table_dir: str) -> list[int]:
    """All committed manifest versions, ascending."""
    return sorted(
        int(n[1:-5])
        for n in fs.listdir(manifest_dir(table_dir))
        if n.startswith("v") and n.endswith(".json")
    )


def read_checkpoint(fs: StorageBackend, table_dir: str) -> int | None:
    """The advisory pointer's version, or None when absent or unreadable
    (both mean 'fall back to listing', never an error)."""
    p = checkpoint_path(table_dir)
    if not fs.exists(p):
        return None
    try:
        return int(_read_json(fs, p)["version"])
    except (ValueError, KeyError, TypeError):
        return None


def latest_version(fs: StorageBackend, table_dir: str) -> int | None:
    """Newest committed version. Fast path: start from the checkpoint
    pointer and probe FORWARD (versions are dense integers — each commit
    is prev+1 and vacuum only removes a prefix, so from any existing
    version upward the files are contiguous); cost is O(commits since the
    last checkpoint) exists-checks, not an O(all versions) listing. Falls
    back to the full listing whenever the pointer is absent, unreadable
    or points at a vacuumed version."""
    v = read_checkpoint(fs, table_dir)
    if v is not None and fs.exists(version_path(table_dir, v)):
        while fs.exists(version_path(table_dir, v + 1)):
            v += 1
        return v
    vs = list_versions(fs, table_dir)
    return vs[-1] if vs else None


def read_manifest(
    fs: StorageBackend, table_dir: str, version: int | None = None
) -> dict:
    """Load a manifest (latest if version is None; an empty table reads
    as version -1 with no batches). A missing explicit version raises
    FileNotFoundError."""
    if version is None:
        version = latest_version(fs, table_dir)
        if version is None:
            return copy.deepcopy(EMPTY_MANIFEST)
    return _read_json(fs, version_path(table_dir, version))


def manifest_mtime(fs: StorageBackend, table_dir: str, version: int) -> float | None:
    """Epoch seconds a manifest was committed at; None when it is absent
    (vacuumed) or the backend cannot tell."""
    return fs.mtime(version_path(table_dir, version))


# --------------------------------------------------------------------------
# Time resolution over monotone manifest mtimes
# --------------------------------------------------------------------------


def min_version_at_or_after(mt, latest: int, ts: float) -> int:
    """The smallest v in [0, latest] with mt(v) >= ts, else latest+1 —
    binary search over a monotone mtime sequence. `mt(v)` returns
    epoch seconds or None meaning DEFINITELY-OLDER (a vacuumed
    prefix); `mt` itself must raise for anomalies (an existing file
    whose mtime the backend cannot give), so a probe failure never
    silently classifies a commit as old. Used by the stream sources'
    startingTimestamp; mirrored (`max_version_at_or_before`) by the
    operator tier's timestampAsOf. None at `latest` is handled HERE
    (definitely-older -> latest+1), so the first probe never raises a
    TypeError."""
    m_latest = mt(latest)
    if m_latest is None or m_latest < ts:
        return latest + 1
    lo, hi = 0, latest  # invariant: mt(hi) >= ts
    while lo < hi:
        mid = (lo + hi) // 2
        m = mt(mid)
        if m is None or m < ts:
            lo = mid + 1
        else:
            hi = mid
    return lo


def max_version_at_or_before(mt, latest: int, ts: float):
    """The largest v in [0, latest] whose mtime is KNOWN and <= ts,
    else None (every retained commit is newer, or the as-of version
    was vacuumed). Same `mt` contract as min_version_at_or_after."""
    m_latest = mt(latest)
    if m_latest is not None and m_latest <= ts:
        return latest
    lo, hi = 0, latest  # invariant: predicate(hi) is False
    while lo < hi:
        mid = (lo + hi + 1) // 2
        m = mt(mid)
        if m is None or m <= ts:
            lo = mid
        else:
            hi = mid - 1
    m_lo = mt(lo)
    return lo if (m_lo is not None and m_lo <= ts) else None


# --------------------------------------------------------------------------
# Ingestion order and delete applicability
# --------------------------------------------------------------------------


def compact_base_id(upto_batch: int) -> int:
    """The RESERVED batch id a compacted base lands at: -(upto_batch + 1).
    Stream micro-batch ids are always >= 0, so a batch replayed after
    compaction can never overwrite the base with its own partial — at
    worst a replay of an already-compacted id double-counts that ONE
    batch, it cannot destroy the merged history. Negative and bijective
    in the horizon (effective_seq is its inverse), so the horizon stays
    readable off the directory name."""
    return -(upto_batch + 1)


def effective_seq(batch_id: int) -> int:
    """The ingestion-order sequence a batch represents: its own id for
    stream/backfill batches, the folded horizon for a compacted base
    (id -(h+1) stands for everything through h)."""
    return batch_id if batch_id >= 0 else -batch_id - 1


def applies(cutoff, batch_id: int) -> bool:
    """Does a delete with this cutoff mask rows of `batch_id`? A cutoff
    of None masks every batch (plain DELETE); a finite cutoff masks only
    batches whose effective sequence is <= it (the Iceberg
    sequence-number rule that keeps an upsert's delete off the rows
    committed beside it)."""
    return cutoff is None or effective_seq(batch_id) <= int(cutoff)


def delete_groups(m: dict) -> list[tuple[int | None, list[int]]]:
    """A manifest's delete ids grouped by cutoff, the unbounded (None)
    group first, then ascending cutoffs."""
    cutoffs = m.get("delete_cutoffs") or {}
    groups: dict[int | None, list[int]] = {}
    for d in m.get("delete_ids") or []:
        groups.setdefault(cutoffs.get(str(d)), []).append(d)
    return sorted(groups.items(), key=lambda kv: (kv[0] is not None, kv[0] or 0))
