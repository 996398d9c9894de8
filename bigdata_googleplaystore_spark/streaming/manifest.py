"""Manifest-committed snapshots over batch-partitioned state tables.

The per-batch partition protocol (streaming.write_batch_partition) gives
idempotent exactly-once WRITES, but readers discover state by DIRECTORY
LISTING — so a compaction swap has a window where base + subsumed
partials coexist (double-counting reads), and a crashed writer's
half-written partition is visible the moment its directory exists. This
module adds the missing piece, the same idea a transactional table
format (Delta's _delta_log, Iceberg's metadata tree — both public
designs) is built on: **readers never list directories; they read a
MANIFEST, and the manifest is replaced atomically.**

Layout (beside the existing partition dirs, which are unchanged; the
format module sources/manifest_log.py owns it and every read rule):

    <table>/_batch_id=<n>/part-*.parquet     immutable once committed
    <table>/_manifests/v000000000042.json    immutable, create-only

A manifest is the complete snapshot definition, a record of the seven
fields of manifest_log.EMPTY_MANIFEST: version, batch_ids, horizon,
delete_ids, delete_cutoffs, stats (per batch: `_rows`, `_bytes` and the
zone map, see _batch_stats) and blooms. The current snapshot is the
highest version file.

One write path: commit_version is the only code that builds the record.
It takes the manifest the commit was planned against with the changed
fields replaced, so a field no caller names carries forward. Commit =
write a temp file, then a single filesystem RENAME onto the next
version path — on HDFS a namespace-atomic operation that fails if the
destination exists, which is exactly optimistic concurrency. On the
local filesystem rename(2) would silently replace, so the rename
backend pre-checks existence — a small TOCTOU window acceptable for
single-writer deployments; S3 needs a conditional-put or an external
catalog, same as every manifest-based format. Writers whose change
commutes with any concurrent commit (appends, deletes, upserts) go
through _commit_on_latest, the one loop that re-reads the new latest
and retries after a lost race; compaction and rollback plan against
one specific version and commit once.

What the manifest buys, concretely:
- **Atomic compaction.** The merged base partition is written FIRST,
  while no manifest references it — invisible. The commit then swaps
  {subsumed ids} for {base id} in one rename: every reader sees either
  the old snapshot (all partials) or the new one (base + recent), never
  both. A crash at ANY point before the rename leaves the table
  logically untouched (the orphan base dir is garbage, reclaimed by
  vacuum or overwritten by the re-run); there is no double-count window
  at all — the property compact_state_partials' write-before-delete
  ordering could only approximate.
- **Torn-writer isolation.** A partition directory only enters the
  snapshot via a manifest commit, so a writer that died mid-parquet
  never corrupts reads.
- **Version pinning.** Snapshot reads plan their file set FROM the
  manifest (explicit partition paths — no root directory listing, so a
  100k-partition table costs O(ids in the manifest) to plan, and
  orphan dirs are never even statted). Any retained version stays
  readable: time travel with real isolation, vs the `_batch_id <= v`
  filter's floor-to-horizon semantics after compaction.
- **Safe GC.** vacuum(keep_versions=K) deletes partition dirs no
  retained manifest references — including crashed writers' orphans —
  while every reader pinned within the K newest versions keeps a
  consistent view.
"""

from __future__ import annotations

import contextlib
import json

from pyspark.sql import DataFrame, Observation, SparkSession

from ..sources import manifest_log
from ..sources.storage import HadoopBackend


class ConcurrentCommitError(RuntimeError):
    """Another committer created this manifest version first; re-read
    the latest manifest and retry on top of it."""


class CommitBackend:
    """The pluggable PUBLISH primitive of the commit protocol — the ONE
    operation that must be atomic create-if-absent. Everything else in
    this module (planning, optimistic retry, GC) is backend-agnostic.

    publish(spark, data, final_path) either makes `final_path` exist
    with exactly `data` while no other committer's publish of the same
    path can also succeed, or raises ConcurrentCommitError.

    Known implementations of this contract (all public designs):
    - RenameCommitBackend (default, below): stage at a unique temp
      path, rename onto final — namespace-atomic on HDFS where rename
      fails if the destination exists. On the LOCAL filesystem
      rename(2) silently replaces, so a pre-check stands in (a small
      TOCTOU window, acceptable single-writer).
    - A conditional-put backend for object stores: S3 `If-None-Match:
      *` / GCS `x-goog-if-generation-match: 0` — one PUT that the
      store itself arbitrates; no temp file, no rename.
    - An external-catalog backend (Hive lock / DynamoDB conditional
      write / a database row with a unique constraint) when the store
      offers neither atomic rename nor conditional put.
    Swapping the backend changes NOTHING above this line — commit
    flows, retries, checkpoint pointers, vacuum all hold."""

    def publish(self, spark: SparkSession, data: bytes, final_path: str) -> None:
        raise NotImplementedError


class RenameCommitBackend(CommitBackend):
    """Default backend: unique-temp write + atomic rename (see
    CommitBackend). The staging name embeds a fresh uuid so two racers
    planning against the same prev version can never clobber each
    other's bytes; only the rename onto the version path arbitrates."""

    def publish(self, spark: SparkSession, data: bytes, final_path: str) -> None:
        import uuid

        jvm, fs, jfinal = _fs(spark, final_path)
        fs.mkdirs(jfinal.getParent())
        if fs.exists(jfinal):
            raise ConcurrentCommitError(
                f"{final_path} already exists; re-read latest and retry"
            )
        tmp = f"{final_path}.{uuid.uuid4().hex}.tmp"
        _write_small_file(spark, tmp, data)
        jtmp = jvm.org.apache.hadoop.fs.Path(tmp)
        if not fs.rename(jtmp, jfinal):
            fs.delete(jtmp, False)
            raise ConcurrentCommitError(
                f"lost the rename race for {final_path}; retry"
            )


class MockObjectStore:
    """In-process model of an object store's conditional-write
    primitive — the generation map IS the store's arbitration state,
    while object bodies land on the real filesystem so every reader in
    the protocol (read_manifest, list_versions, vacuum) sees them
    unchanged. Exposes exactly what S3 (`If-None-Match: *`) / GCS
    (`x-goog-if-generation-match: 0`) expose: one atomic
    put-if-generation-zero. `interpose` is the CONTENTION INJECTION
    hook: a test installs a callback that fires between a committer's
    decision to publish and the store's atomic section — a rival put
    landed there must make this put fail with the 412 analog, which is
    the entire point of a conditional put.

    Generations are never reset on FS deletes (vacuum): versions are
    monotone, nobody re-puts an old version path, and a stale non-zero
    generation only makes a re-put refuse — the safe direction."""

    def __init__(self):
        import threading

        self._lock = threading.Lock()
        self._gen: dict[str, int] = {}
        self.interpose = None  # fn(key) | None — test hook, see above
        self.puts = 0  # successful conditional puts (observability)

    def put_if_absent(self, key: str, writer, exists_probe=None) -> bool:
        """Atomically: if `key` has generation 0 (and, for objects that
        predate this store handle, `exists_probe()` is false), run
        `writer()` to materialize the body and bump the generation;
        else refuse. Returns whether the put won."""
        hook = self.interpose
        if hook is not None:
            hook(key)
        with self._lock:
            if self._gen.get(key, 0) != 0:
                return False
            if exists_probe is not None and exists_probe():
                # adopt an object created before this handle existed
                # (e.g. a table whose early commits used the rename
                # backend) — conditional put must refuse, not clobber
                self._gen[key] = 1
                return False
            writer()
            self._gen[key] = 1
            self.puts += 1
            return True


class ConditionalPutCommitBackend(CommitBackend):
    """Object-store publish: ONE conditional PUT that the store itself
    arbitrates — no temp file, no rename, no namespace assumption
    (this is the backend for stores where rename is copy+delete and
    never atomic). Wired to MockObjectStore because this environment
    has no object-store endpoint; a real deployment replaces
    `store.put_if_absent` with the SDK call carrying the
    `If-None-Match: *` / generation-match header — nothing above the
    CommitBackend seam changes (asserted by running the protocol suite
    parameterized over both backends in tests/test_manifest.py)."""

    def __init__(self, store: MockObjectStore):
        self.store = store

    def publish(self, spark: SparkSession, data: bytes, final_path: str) -> None:
        jvm, fs, jfinal = _fs(spark, final_path)
        fs.mkdirs(jfinal.getParent())
        won = self.store.put_if_absent(
            final_path,
            lambda: _write_small_file(spark, final_path, data),
            exists_probe=lambda: fs.exists(jfinal),
        )
        if not won:
            raise ConcurrentCommitError(
                f"{final_path}: conditional put refused (412 "
                "Precondition Failed analog) — another committer owns "
                "this version; re-read latest and retry"
            )


_DEFAULT_BACKEND = RenameCommitBackend()


@contextlib.contextmanager
def default_commit_backend(backend: CommitBackend):
    """Scope every commit that doesn't pass an explicit backend to
    `backend` — how a deployment (or the parameterized test suite)
    swaps the publish primitive table-wide without threading it
    through each helper."""
    global _DEFAULT_BACKEND
    prev = _DEFAULT_BACKEND
    _DEFAULT_BACKEND = backend
    try:
        yield backend
    finally:
        _DEFAULT_BACKEND = prev


def _fs(spark: SparkSession, path: str):
    jvm = spark.sparkContext._jvm
    jpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = jpath.getFileSystem(spark.sparkContext._jsc.hadoopConfiguration())
    return jvm, fs, jpath


def _write_small_file(spark: SparkSession, path: str, data: bytes) -> None:
    jvm, fs, jpath = _fs(spark, path)
    out = fs.create(jpath, True)
    try:
        out.write(data)
    finally:
        out.close()


def _batch_paths(table_dir: str, ids) -> list[str]:
    return [manifest_log.batch_path(table_dir, b) for b in ids]


def _batch_written(spark: SparkSession, table_dir: str, batch_id: int) -> bool:
    """Did write_batch_partition land a directory for this batch? An
    EMPTY batch writes none (dynamic partition overwrite has nothing to
    overwrite), and committing its id would point every later snapshot
    read at a path that does not exist."""
    return HadoopBackend(spark).exists(manifest_log.batch_path(table_dir, batch_id))


def list_versions(spark: SparkSession, table_dir: str) -> list[int]:
    """All committed manifest versions, ascending."""
    return manifest_log.list_versions(HadoopBackend(spark), table_dir)


CHECKPOINT_INTERVAL = 10


def write_checkpoint(spark: SparkSession, table_dir: str, version: int) -> None:
    """Refresh the ADVISORY latest-version pointer (the public
    `_last_checkpoint` idea). Unlike a log-structured format, every
    manifest here is already a complete snapshot, so the checkpoint
    carries no state — just a version number that lets cold readers
    probe forward instead of listing 10^5 version files. Overwrite-in-
    place is fine BECAUSE it is advisory: a torn/stale/missing pointer
    only degrades latest_version to the full-listing path, never to a
    wrong answer."""
    _write_small_file(
        spark,
        manifest_log.checkpoint_path(table_dir),
        json.dumps({"version": int(version)}).encode("utf-8"),
    )


def read_checkpoint(spark: SparkSession, table_dir: str) -> int | None:
    """The pointer's version, or None when absent/unreadable (both mean
    'fall back to listing', never an error)."""
    return manifest_log.read_checkpoint(HadoopBackend(spark), table_dir)


def latest_version(spark: SparkSession, table_dir: str) -> int | None:
    """Newest committed version: checkpoint pointer plus forward probes,
    O(commits since the last checkpoint) exists-checks — the difference
    between a 10^5-commit table planning from ~10 metadata probes vs a
    paged object-store LIST — else the full listing
    (manifest_log.latest_version)."""
    return manifest_log.latest_version(HadoopBackend(spark), table_dir)


def version_as_of_timestamp(
    spark: SparkSession, table_dir: str, ts: float
) -> int:
    """timestampAsOf resolution (the Delta batch-read parity piece
    next to version-pinned time travel): the LARGEST committed version
    whose manifest file mtime <= ts, found by binary search over the
    monotone mtime sequence — O(log versions) metadata probes, the
    same invariant vacuum's age-based retention rests on. A version
    vacuumed away probes as older-than-anything (it is); if the
    RESOLVED version itself was vacuumed, or every retained commit is
    newer than ts, the read refuses with a retention error rather than
    silently answering from the wrong snapshot."""
    fs = HadoopBackend(spark)
    latest = manifest_log.latest_version(fs, table_dir)
    if latest is None:
        raise ValueError(f"no committed snapshot in {table_dir}")
    # a vacuumed version probes as None (definitely-older); an existing
    # file's Hadoop status always carries a modification time — the
    # shared search's contract
    resolved = manifest_log.max_version_at_or_before(
        lambda v: manifest_log.manifest_mtime(fs, table_dir, v), latest, ts
    )
    if resolved is None:
        raise ValueError(
            f"timestampAsOf {ts}: every retained manifest of "
            f"{table_dir} is newer (the as-of version aged out of "
            "vacuum retention, or predates the first commit) — widen "
            "keep_versions or pick a later timestamp"
        )
    return resolved


def read_manifest(
    spark: SparkSession, table_dir: str, version: int | None = None
) -> dict:
    """Load a manifest (latest if version is None)."""
    return manifest_log.read_manifest(HadoopBackend(spark), table_dir, version)


def commit_version(
    spark: SparkSession,
    table_dir: str,
    manifest: dict,
    backend: CommitBackend | None = None,
) -> int:
    """Commit `manifest` as the next version via the backend's atomic
    create-if-absent publish (default: unique-temp write + rename, see
    RenameCommitBackend / CommitBackend for the object-store variants).
    `manifest` is the record this commit was planned against (its
    `version`; -1 for an empty table) with the changed fields replaced,
    e.g. `{**cur, "batch_ids": ids}`: every field it does not change
    carries forward, and a field it lacks takes EMPTY_MANIFEST's value.
    If someone else committed in between, the version file already
    exists and ConcurrentCommitError tells the caller to re-plan —
    optimistic concurrency, no locks.

    Every CHECKPOINT_INTERVAL-th commit refreshes the advisory
    `_last_checkpoint.json` pointer so a cold reader finds the latest
    version in O(commits since checkpoint) probes instead of an
    O(all versions) directory listing (see latest_version)."""
    record = {
        k: default if manifest.get(k) is None else manifest[k]
        for k, default in manifest_log.EMPTY_MANIFEST.items()
    }
    next_v = record["version"] + 1
    record["version"] = next_v
    record["batch_ids"] = sorted(record["batch_ids"])
    record["delete_ids"] = sorted(record["delete_ids"])
    data = json.dumps(record, sort_keys=True).encode("utf-8")
    (backend or _DEFAULT_BACKEND).publish(
        spark, data, manifest_log.version_path(table_dir, next_v)
    )
    if next_v % CHECKPOINT_INTERVAL == 0:
        write_checkpoint(spark, table_dir, next_v)
    return next_v


COMMIT_RETRIES = 5


def _commit_on_latest(spark: SparkSession, table_dir: str, change) -> int:
    """Optimistic commit for changes that commute with any concurrent
    commit (set unions, stats of a new batch): read the latest manifest,
    commit it with the fields `change(cur)` returns replaced, and after
    a lost race re-read and re-apply — the happy path every manifest
    format uses for appends. The last of COMMIT_RETRIES conflicts
    propagates."""
    for attempt in range(COMMIT_RETRIES):
        cur = read_manifest(spark, table_dir)
        try:
            return commit_version(spark, table_dir, {**cur, **change(cur)})
        except ConcurrentCommitError:
            if attempt == COMMIT_RETRIES - 1:
                raise


def commit_batch(spark: SparkSession, table_dir: str, batch_id: int) -> int:
    """Publish an already-written `_batch_id` partition into the
    snapshot: latest manifest + this id -> next version. The partition
    write (streaming.write_batch_partition) stays idempotent and
    invisible until this commit lands. The publish is metadata only:
    aggregate-state partials carry no stats (see _batch_stats)."""
    return _commit_on_latest(
        spark, table_dir, lambda cur: {"batch_ids": {*cur["batch_ids"], batch_id}}
    )


def snapshot_partials(
    spark: SparkSession, table_dir: str, version: int | None = None
) -> DataFrame:
    """The partial-state rows of a snapshot, planned FROM the manifest:
    one read over the exact partition directories the manifest lists —
    no root listing, so orphan/in-flight directories are never touched
    and planning cost is O(|manifest|), not O(|directory|)."""
    m = read_manifest(spark, table_dir, version)
    if not m["batch_ids"]:
        raise ValueError(f"no committed snapshot in {table_dir}")
    return spark.read.parquet(*_batch_paths(table_dir, m["batch_ids"]))


def read_snapshot_agg(
    spark: SparkSession, table_dir: str, version: int | None = None
) -> DataFrame:
    """Fold a snapshot's scalar partials into the aggregate view — the
    manifest-planned twin of streaming.read_incremental_state."""
    from ..operators import incremental

    return incremental.finalize(
        incremental.merge_partials(snapshot_partials(spark, table_dir, version))
    )


def compact_snapshot(
    spark: SparkSession, table_dir: str, upto_batch: int
) -> int:
    """ATOMIC compaction: merge every committed partial with
    `_batch_id <= upto_batch` into a base partition at the reserved
    negative id (manifest_log.compact_base_id), then commit a manifest
    that swaps the subsumed ids for the base id. The base directory is
    written while unreferenced, so readers see the old snapshot until
    the single manifest rename, then the new one — no interleaving, no
    double-count window. A crash anywhere before the commit leaves the
    snapshot logically unchanged; the re-run overwrites the orphan base
    and commits. Old partial dirs are NOT deleted here — retained
    versions still reference them; vacuum() reclaims them when those
    versions age out.

    Returns the committed manifest version."""
    from .. import streaming

    cur, subsumed = _compaction_plan(spark, table_dir, upto_batch, "compact_snapshot")
    if not subsumed:
        return cur["version"]
    # merge ONLY the committed subsumed partials (manifest-planned read)
    streaming.write_compacted_base(
        spark,
        streaming.merge_state_partials(
            spark.read.parquet(*_batch_paths(table_dir, subsumed))
        ),
        table_dir,
        manifest_log.compact_base_id(upto_batch),
    )
    # the base gets no stats — conservative: it is always read
    return commit_version(spark, table_dir, _swap_in_base(cur, upto_batch))


def _compaction_plan(
    spark: SparkSession, table_dir: str, upto_batch: int, op: str
) -> tuple[dict, list[int]]:
    """The latest manifest a compaction to `upto_batch` plans against,
    and the committed ids the base will subsume (none: nothing to do)."""
    from .. import streaming

    cur = read_manifest(spark, table_dir)
    if not cur["batch_ids"]:
        raise ValueError(f"nothing to compact in {table_dir}")
    streaming.check_horizon(op, upto_batch, cur["horizon"])
    return cur, [b for b in cur["batch_ids"] if b <= upto_batch]


def _swap_in_base(cur: dict, upto_batch: int, base_stats: dict | None = None) -> dict:
    """`cur` after a compaction to `upto_batch` — the atomic swap: the
    subsumed ids leave for the base id, the horizon advances, and the
    subsumed batches' stats and blooms leave the manifest with them."""
    base_id = manifest_log.compact_base_id(upto_batch)

    def above(entries: dict) -> dict:
        return {k: v for k, v in entries.items() if int(k) > upto_batch}

    stats = above(cur["stats"])
    if base_stats is not None:
        stats[str(base_id)] = base_stats
    return {
        **cur,
        "batch_ids": [base_id, *(b for b in cur["batch_ids"] if b > upto_batch)],
        "horizon": upto_batch,
        "stats": stats,
        "blooms": above(cur["blooms"]),
    }


def vacuum(
    spark: SparkSession,
    table_dir: str,
    keep_versions: int = 2,
    tmp_grace_seconds: float = 3600.0,
    keep_hours: float | None = None,
    dry_run: bool = False,
) -> tuple[int, int]:
    """Garbage-collect: keep the newest `keep_versions` manifests and
    every partition directory any of them references; delete the rest —
    aged-out partials AND orphan directories from crashed writers or
    aborted compactions (which no manifest ever referenced). Readers
    pinned within the retention window are untouched; this is the
    retention boundary, exactly a table format's VACUUM. Delete-key
    files (_deletes/d*) referenced by no retained manifest and orphan
    manifest staging files (*.tmp) are reclaimed on the same pass.

    `keep_hours` widens retention by AGE (the Delta `RETAIN N HOURS`
    contract): every version whose manifest is younger than the window
    survives in addition to the newest `keep_versions` — time-travel
    and slow readers get a wall-clock guarantee instead of a commit-
    rate-dependent one. Because manifest mtimes are monotone with
    version order, the retained set stays a contiguous suffix (enforced
    by cutting at the oldest survivor), which the checkpoint pointer's
    forward-probe contiguity relies on.

    `dry_run=True` computes and returns what WOULD be deleted without
    touching a byte (no deletes, no checkpoint refresh) — the audit
    step a retention change should run first.

    Returns (dirs_deleted, manifests_deleted) where dirs_deleted counts
    data partitions plus delete-key dirs (would-be counts under
    dry_run)."""
    if keep_versions < 1:
        raise ValueError(
            f"vacuum: keep_versions={keep_versions} would retain no "
            "manifest and delete every referenced partition — at least "
            "the current snapshot must survive"
        )
    hfs = HadoopBackend(spark)
    versions = manifest_log.list_versions(hfs, table_dir)
    if not versions:
        return (0, 0)
    jvm, fs, _ = _fs(spark, table_dir)

    def rm(path: str, recursive: bool) -> None:
        if not dry_run:
            fs.delete(jvm.org.apache.hadoop.fs.Path(path), recursive)

    import time as _time

    now = _time.time()
    cut = versions[-keep_versions:][0]
    if keep_hours is not None:
        for v in versions:
            if v >= cut:
                break
            mt = manifest_log.manifest_mtime(hfs, table_dir, v)
            if mt is not None and now - mt <= float(keep_hours) * 3600.0:
                cut = v
                break
    retained = [v for v in versions if v >= cut]
    keep_ids: set[int] = set()
    keep_dids: set[int] = set()
    for v in retained:
        m = manifest_log.read_manifest(hfs, table_dir, v)
        keep_ids |= set(m["batch_ids"])
        keep_dids |= set(m.get("delete_ids") or [])
    dirs_deleted = 0
    for b in manifest_log.list_batch_ids(hfs, table_dir):
        if b not in keep_ids:
            rm(manifest_log.batch_path(table_dir, b), True)
            # the batch's bloom sidecar ages out with it
            rm(manifest_log.bloom_path(table_dir, b), False)
            dirs_deleted += 1
    # delete-key files referenced by NO retained manifest age out too —
    # for right-to-be-forgotten flows the keys themselves are PII, so
    # physical erasure must cover the key files, not just data partitions
    for d in manifest_log.list_delete_ids(hfs, table_dir):
        if d not in keep_dids:
            rm(manifest_log.delete_path(table_dir, d), True)
            dirs_deleted += 1
    man_deleted = 0
    for v in versions:
        if v not in retained:
            rm(manifest_log.version_path(table_dir, v), False)
            man_deleted += 1
    # crashed committers leave behind uniquely-named *.tmp staging files
    # in the manifest dir that no rename ever consumed — reclaim those as
    # well, but only past a grace period: a young .tmp may belong to a
    # LIVE committer between RenameCommitBackend's write and rename,
    # and deleting it there forces a spurious ConcurrentCommitError.
    # tmp_grace_seconds=0 reclaims unconditionally (tests / known-quiet
    # tables).
    mdir = manifest_log.manifest_dir(table_dir)
    for name in hfs.listdir(mdir):
        if name.endswith(".tmp"):
            mt = hfs.mtime(f"{mdir}/{name}")
            if mt is not None and now - mt >= tmp_grace_seconds:
                rm(f"{mdir}/{name}", False)
    # keep the advisory pointer inside the retained window so the fast
    # path stays fast (a stale pointer would fall back to listing)
    if not dry_run:
        write_checkpoint(spark, table_dir, retained[-1])
    return (dirs_deleted, man_deleted)


def run_stream_manifest_agg(
    stream_df: DataFrame,
    keys: list[str],
    value_col: str,
    table_dir: str,
    checkpoint_dir: str,
) -> None:
    """Streaming MV maintenance with TRANSACTIONAL publishing: each
    micro-batch writes its mergeable partial into its own `_batch_id`
    partition (the shared idempotent protocol) and then COMMITS a
    manifest — so a downstream reader never observes a half-written
    batch, and a batch replayed after a crash-before-commit simply
    rewrites its partition and commits the version its crash lost
    (commit_batch is a set-union, so a replay after a successful commit
    is also harmless: the id is already in the snapshot). This is the
    foreachBatch + idempotent-write + atomic-publish triple that makes
    Structured Streaming end-to-end exactly-once onto plain parquet."""
    from ..operators import incremental

    spark = stream_df.sparkSession

    def write_and_commit(batch_df: DataFrame, batch_id: int) -> None:
        from . import write_batch_partition

        write_batch_partition(
            incremental.partial_agg(batch_df, keys, value_col),
            table_dir,
            batch_id,
        )
        if _batch_written(spark, table_dir, batch_id):
            commit_batch(spark, table_dir, batch_id)

    q = (
        stream_df.writeStream.foreachBatch(write_and_commit)
        .option("checkpointLocation", checkpoint_dir)
        .start()
    )
    q.processAllAvailable()
    q.stop()


# --------------------------------------------------------------------------
# Merge-on-read row-level deletes (Iceberg-v2-style equality deletes)
# --------------------------------------------------------------------------


def commit_deletes(
    spark: SparkSession,
    table_dir: str,
    delete_keys: DataFrame,
    delete_id: int,
    cutoff: int | None = None,
) -> int:
    """Row-level DELETE without rewriting data files: land a parquet of
    delete KEYS (an equality-delete file, the Iceberg v2 merge-on-read
    design) at its own immutable path, then commit a manifest that adds
    `delete_id` to the snapshot. The delete is atomic (visible only
    after the manifest rename), idempotent (rewriting the same id's
    file is harmless), and O(|deleted keys|) — no data partition is
    touched, which at 100 TB is the difference between a metadata
    operation and rewriting a table. Readers apply deletes as a
    broadcast anti-join at scan time (read_snapshot_rows);
    compact_rows_apply_deletes later folds them into a rewritten base
    (copy-on-write catch-up).

    `cutoff` bounds the delete in ingestion order (the Iceberg
    sequence-number rule): it masks only rows of batches with
    effective sequence <= cutoff. A point-in-time DELETE ("remove the
    rows that exist NOW") should pass the current max committed
    sequence — then a later compaction past that cutoff can DROP the
    delete file entirely and vacuum can physically erase the key
    bytes, which is what a right-to-be-forgotten flow needs (the keys
    themselves are PII). `cutoff=None` is the legacy unbounded DELETE:
    it masks future re-inserts of the key too, and therefore must be
    retained in the manifest forever."""
    delete_keys.write.mode("overwrite").parquet(
        manifest_log.delete_path(table_dir, delete_id)
    )

    def change(cur: dict) -> dict:
        cutoffs = cur["delete_cutoffs"]
        if cutoff is not None:
            cutoffs = {**cutoffs, str(delete_id): cutoff}
        return {
            "delete_ids": {*cur["delete_ids"], delete_id},
            "delete_cutoffs": cutoffs,
        }

    return _commit_on_latest(spark, table_dir, change)


def read_snapshot_rows(
    spark: SparkSession,
    table_dir: str,
    version: int | None = None,
    where_between: tuple[str, object, object] | None = None,
    merge_schema: bool = False,
) -> DataFrame:
    """ROW-table snapshot read with merge-on-read semantics: union the
    manifest's data partitions, then anti-join the manifest's delete
    files on their key columns (broadcast — delete sets are small by
    design; a delete set that outgrows broadcast is the signal to run
    compact_rows_apply_deletes). Uncommitted data AND uncommitted
    deletes are equally invisible — both sides of the table's state
    advance only by manifest commits.

    `merge_schema=True` unions the batch schemas (parquet footer
    union) so ADDITIVE columns
    that arrived in later batches surface everywhere, older rows
    reading typed nulls — without it the scan takes one footer's
    schema and a later batch's new column could silently vanish.
    Costs a footer read per planned batch; leave off for
    fixed-schema state tables.

    `where_between=(col, lo, hi)` additionally applies a range
    predicate — and, when the manifest carries zone-map stats for
    `col` (write_and_commit_batch's stats_cols), batches whose
    [min, max] cannot overlap [lo, hi] are skipped at PLANNING time:
    data skipping from metadata alone, before a single footer is
    opened (the prune decision is prune_snapshot_batches, unit-
    separable)."""
    m = read_manifest(spark, table_dir, version)
    if not m["batch_ids"]:
        raise ValueError(f"no committed snapshot in {table_dir}")
    if where_between is not None:
        col, lo, hi = where_between
        ids = prune_snapshot_batches(m, col, lo, hi)
    else:
        ids = m["batch_ids"]
    # sequence-aware deletes (commit_upsert) need per-row provenance;
    # the common all-batches cutoff (plain commit_deletes) takes the
    # single-relation fast path
    cutoffs = m.get("delete_cutoffs", {})
    needs_seq = any(
        cutoffs.get(str(d)) is not None for d in m.get("delete_ids", [])
    )
    if not ids:
        # every batch pruned: an empty frame with the table's schema
        rows = spark.read.parquet(
            manifest_log.batch_path(table_dir, m["batch_ids"][0])
        ).limit(0)
        if needs_seq:
            from pyspark.sql import functions as F

            rows = rows.withColumn("_seq", F.lit(0))
    elif needs_seq:
        rows = _rows_with_seq(spark, table_dir, ids, merge_schema)
    elif merge_schema:
        rows = spark.read.option("mergeSchema", "true").parquet(
            *_batch_paths(table_dir, ids)
        )
    else:
        rows = spark.read.parquet(*_batch_paths(table_dir, ids))
    if where_between is not None:
        from pyspark.sql import functions as F

        col, lo, hi = where_between
        rows = rows.where(F.col(col).between(F.lit(lo), F.lit(hi)))
    rows = _apply_delete_groups(
        spark, table_dir, m, rows, seq_col="_seq" if needs_seq else None
    )
    return rows.drop("_seq") if needs_seq else rows


def _rows_with_seq(
    spark: SparkSession,
    table_dir: str,
    ids: list[int],
    merge_schema: bool = False,
) -> DataFrame:
    """The batch partitions in ONE scan with a `_seq` provenance column —
    the per-row ingestion order sequence-aware deletes join against.
    With `basePath` the scan discovers each row's `_batch_id` partition
    value, which maps to `_seq` through manifest_log.effective_seq
    evaluated over `ids`. With `merge_schema`, the footer union fills
    columns missing from older batches with typed nulls (additive
    schema evolution); without it the scan takes one footer's schema."""
    from pyspark.sql import functions as F

    reader = spark.read.option("basePath", table_dir)
    if merge_schema:
        reader = reader.option("mergeSchema", "true")
    seq_of = F.create_map(
        *[F.lit(x) for b in ids for x in (b, manifest_log.effective_seq(b))]
    )
    return (
        reader.parquet(*_batch_paths(table_dir, ids))
        .withColumn("_seq", F.element_at(seq_of, F.col("_batch_id")))
        .drop("_batch_id")
    )


def _apply_delete_groups(
    spark: SparkSession,
    table_dir: str,
    m: dict,
    rows: DataFrame,
    seq_col: str | None = None,
) -> DataFrame:
    """Anti-join the manifest's delete files against `rows`. A delete
    with a finite cutoff masks only rows whose `seq_col` (batch
    ingestion sequence) is <= the cutoff — the Iceberg sequence-number
    rule that lets an upsert's delete file mask OLD rows without eating
    the NEW rows committed alongside it."""
    from pyspark.sql import functions as F

    for cutoff, ds in manifest_log.delete_groups(m):
        dels = spark.read.parquet(
            *[manifest_log.delete_path(table_dir, d) for d in ds]
        ).distinct()
        keys = list(dels.columns)
        if cutoff is None or seq_col is None:
            rows = rows.join(F.broadcast(dels), on=keys, how="left_anti")
        else:
            r, d = rows.alias("_r"), dels.alias("_d")
            cond = F.col(f"_r.{seq_col}") <= F.lit(cutoff)
            for k in keys:
                cond = cond & (F.col(f"_r.{k}") == F.col(f"_d.{k}"))
            rows = r.join(F.broadcast(d), on=cond, how="left_anti")
    return rows


def compact_rows_apply_deletes(
    spark: SparkSession, table_dir: str, upto_batch: int
) -> int:
    """Copy-on-write catch-up for a merge-on-read ROW table: rewrite the
    partitions <= upto_batch as ONE base with every committed delete
    APPLIED, swap them in a single manifest commit, and keep the delete
    ids (they still mask rows in the batches that stayed; re-masking
    the base is a no-op because its rows are already gone — anti-join
    is idempotent). Crash-safe the same way compact_snapshot is: the
    base is invisible until the commit. Bounds the read-time anti-join
    cost: after compaction the delete files only pay for rows newer
    than the horizon."""
    from .. import streaming

    cur, subsumed = _compaction_plan(
        spark, table_dir, upto_batch, "compact_rows_apply_deletes"
    )
    if not subsumed:
        return cur["version"]
    base_id = manifest_log.compact_base_id(upto_batch)
    dids = cur["delete_ids"]
    # the base is rewritten from the MERGED schema of the batches it
    # replaces: one footer's schema would drop, for good, a column an
    # additively evolved batch brought in
    if dids:
        # sequence-aware: a delete masks only rows of batches at or
        # below its cutoff, so the base's surviving rows are exactly
        # what a cutoff-aware read would have produced
        rows = _apply_delete_groups(
            spark,
            table_dir,
            cur,
            _rows_with_seq(spark, table_dir, subsumed, merge_schema=True),
            seq_col="_seq",
        ).drop("_seq")
    else:
        rows = spark.read.option("mergeSchema", "true").parquet(
            *_batch_paths(table_dir, subsumed)
        )
    rows, obs = _observe_stats(rows)
    streaming.write_compacted_base(spark, rows, table_dir, base_id)
    # the base inherits the MERGED zone-map bounds of what it replaced
    # (deletes only shrink the true range — wider bounds stay CORRECT
    # for skipping, just less tight); kept batches keep their own
    sub_entries = [cur["stats"].get(str(b)) for b in subsumed]
    base_stats: dict[str, object] = {}
    if all(e is not None for e in sub_entries):
        common = set.intersection(*(set(e) for e in sub_entries))
        for c in common - {"_rows", "_bytes"}:
            los = [e[c][0] for e in sub_entries]
            his = [e[c][1] for e in sub_entries]
            if all(v is not None for v in los + his):
                base_stats[c] = [min(los), max(his)]
    # the rewritten base's EXACT row count (deletes were applied above,
    # so summing subsumed counts would overcount) — keeps the
    # metadata-only COUNT(*) path exact through compaction; same for
    # the on-disk bytes the stream sources' byte admission reads
    base_stats.update(_batch_stats(spark, obs, table_dir, base_id))
    # a delete whose cutoff the new horizon covers is SPENT: every row it
    # could ever mask (seq <= cutoff <= upto_batch) was just rewritten out
    # of the base, and the kept batches all sit above it. Dropping it from
    # the manifest lets vacuum physically erase the key file — without
    # this, a right-to-be-forgotten key would live on disk forever. A
    # delete survives iff it still applies to a batch past the horizon —
    # unbounded (cutoff=None) deletes mask future inserts too: retained.
    cutoffs = cur["delete_cutoffs"]
    kept_dids = [
        d for d in dids if manifest_log.applies(cutoffs.get(str(d)), upto_batch + 1)
    ]
    return commit_version(
        spark,
        table_dir,
        {
            **_swap_in_base(cur, upto_batch, base_stats),
            "delete_ids": kept_dids,
            "delete_cutoffs": {
                k: v for k, v in cutoffs.items() if int(k) in set(kept_dids)
            },
        },
    )


def snapshot_diff(
    spark: SparkSession,
    table_dir: str,
    from_version: int,
    to_version: int,
) -> DataFrame:
    """CHANGE DATA FEED between two committed versions of a merge-on-
    read row table: every row with a `_change_type` column ('insert' /
    'delete') describing how the snapshot evolved from `from_version`
    to `to_version`. Planned entirely from the two manifests:

    - inserts  = rows of data partitions added in between, minus rows
      already masked by `to`'s delete files (a row inserted and deleted
      within the window never became visible);
    - deletes  = rows of `from`'s visible snapshot matched by delete
      files added in between (keys that never matched a visible row
      produce nothing — a delete of an absent key is a no-op, not a
      change).

    Cost, stated precisely: the insert side scans only the NEW
    partitions (O(delta)); the delete side scans the from-version's
    visible rows once to MATERIALIZE the deleted rows' content (a
    key-only feed would be delta-sized too, but a CDF contract emits
    whole rows) and semi-joins them against the new delete keys
    broadcast-side. Neither side ever diffs two full snapshots row by
    row — the manifest IS the change log, which is why a lakehouse CDF
    is cheap while diffing two plain parquet snapshots at 100 TB is a
    petabyte join.

    Both sides read the merged batch schema (one footer read per
    scanned batch), so a column added by additive evolution appears in
    the feed, as a typed null on rows written before it existed."""
    from pyspark.sql import functions as F

    if from_version > to_version:
        raise ValueError(
            f"snapshot_diff: from_version={from_version} is newer than "
            f"to_version={to_version} — a reverse feed is the forward "
            "feed with the change types swapped; request it that way"
        )
    m_from = read_manifest(spark, table_dir, from_version)
    m_to = read_manifest(spark, table_dir, to_version)
    new_batches = sorted(set(m_to["batch_ids"]) - set(m_from["batch_ids"]))
    if any(b < 0 for b in new_batches):
        raise ValueError(
            "snapshot_diff: a compaction rewrite lies between "
            f"v{from_version} and v{to_version} (base partition in the "
            "delta) — diff across a rewrite is not change data; diff up "
            "to the pre-compaction version instead"
        )
    new_deletes = sorted(
        set(m_to.get("delete_ids", [])) - set(m_from.get("delete_ids", []))
    )
    parts = []
    if new_batches:
        # cutoff-aware masking: an upsert's own delete file (cutoff
        # below the new batch's sequence) must NOT eat the rows
        # committed alongside it
        inserted = _apply_delete_groups(
            spark,
            table_dir,
            m_to,
            _rows_with_seq(spark, table_dir, new_batches, merge_schema=True),
            seq_col="_seq",
        ).drop("_seq")
        parts.append(inserted.withColumn("_change_type", F.lit("insert")))
    if new_deletes:
        visible_before = _apply_delete_groups(
            spark,
            table_dir,
            m_from,
            _rows_with_seq(
                spark, table_dir, m_from["batch_ids"], merge_schema=True
            ),
            seq_col="_seq",
        )
        groups = manifest_log.delete_groups(
            {"delete_ids": new_deletes, "delete_cutoffs": m_to.get("delete_cutoffs")}
        )
        del_parts = []
        for cutoff, ds in groups:
            dels_new = spark.read.parquet(
                *[manifest_log.delete_path(table_dir, d) for d in ds]
            ).distinct()
            keys = list(dels_new.columns)
            if cutoff is None:
                hit = visible_before.join(
                    F.broadcast(dels_new), on=keys, how="left_semi"
                )
            else:
                r, d = visible_before.alias("_r"), dels_new.alias("_d")
                cond = F.col("_r._seq") <= F.lit(cutoff)
                for k in keys:
                    cond = cond & (F.col(f"_r.{k}") == F.col(f"_d.{k}"))
                hit = r.join(F.broadcast(d), on=cond, how="left_semi")
            del_parts.append(hit)
        deleted = del_parts[0]
        for p in del_parts[1:]:
            deleted = deleted.unionByName(p)
        parts.append(
            deleted.distinct()
            .drop("_seq")
            .withColumn("_change_type", F.lit("delete"))
        )
    if not parts:
        base = read_snapshot_rows(
            spark, table_dir, to_version, merge_schema=True
        ).limit(0)
        return base.withColumn("_change_type", F.lit(""))
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p, allowMissingColumns=True)
    return out


# --------------------------------------------------------------------------
# Zone-map statistics: data skipping from manifest metadata
# --------------------------------------------------------------------------


def _json_scalar(v):
    """Normalize a Spark-collected scalar for JSON manifest storage.
    Dates/timestamps become ISO strings (lexicographic order == temporal
    order, so range pruning compares correctly); Decimals become floats;
    ints/floats/strings/None pass through."""
    import datetime
    import decimal

    if isinstance(v, (datetime.date, datetime.datetime)):
        return v.isoformat(sep=" ") if isinstance(v, datetime.datetime) else v.isoformat()
    if isinstance(v, decimal.Decimal):
        return float(v)
    return v


class SchemaEnforcementError(ValueError):
    """The batch's schema is incompatible with the table's (see
    check_batch_schema) — the writer-side guard every table format
    raises instead of letting one bad job poison the table."""


def check_batch_schema(
    spark: SparkSession,
    table_dir: str,
    df: DataFrame,
    manifest: dict | None = None,
) -> None:
    """Writer-side SCHEMA ENFORCEMENT (the public Delta design: writes
    are validated against the table, reads merge): a batch may ADD
    nullable columns (additive evolution — read paths fill typed
    nulls), but a column shared with the table must keep its exact
    type, and dropping a column is refused (silent data loss for
    by-position consumers; drop via an explicit rewrite, not a write).
    The table's schema is the CURRENT snapshot's merged read schema —
    one parquet-footer union over the newest manifest's batches, no
    data scan. An empty table accepts any schema (the first write
    defines it). `manifest` lets a caller validate against a manifest
    it already read — write_and_commit_batch uses it to RE-validate
    inside its optimistic-commit retry loop, so a concurrent
    schema-evolving commit landing between check and publish cannot
    slip past enforcement (the same validate-within-the-transaction-
    attempt discipline table formats use)."""
    cur = manifest if manifest is not None else read_manifest(spark, table_dir)
    ids = cur["batch_ids"]
    if not ids:
        return
    table_schema = spark.read.option("mergeSchema", "true").parquet(
        *_batch_paths(table_dir, ids)
    ).schema
    batch = {f.name: f.dataType for f in df.schema.fields}
    table = {f.name: f.dataType for f in table_schema.fields}
    missing = sorted(set(table) - set(batch))
    if missing:
        raise SchemaEnforcementError(
            f"batch drops table columns {missing} of {table_dir} — "
            "additive evolution only; drop columns via an explicit "
            "rewrite, not a write"
        )
    mismatched = {
        n: (str(batch[n]), str(table[n]))
        for n in batch
        if n in table and batch[n] != table[n]
    }
    if mismatched:
        raise SchemaEnforcementError(
            f"batch column types diverge from {table_dir}: "
            f"{mismatched} (batch, table) — cast explicitly before "
            "writing; a type flip would poison every merged read"
        )


def _partition_bytes(spark: SparkSession, table_dir: str, batch_id: int) -> int:
    """Sum of data-file lengths under `_batch_id=<id>` — filesystem
    metadata only."""
    jvm, fs, pdir = _fs(spark, manifest_log.batch_path(table_dir, batch_id))
    if not fs.exists(pdir):
        return 0
    return sum(
        st.getLen()
        for st in fs.listStatus(pdir)
        if not st.getPath().getName().startswith("_")
    )


def _observe_stats(
    df: DataFrame, stats_cols: list[str] | None = None
) -> tuple[DataFrame, Observation]:
    """Attach a batch's stats aggregates to `df`: the returned frame's
    first action (the batch write) computes `_rows` and the zone-map
    min/max of each `stats_cols` column as it writes, so the stats cost
    no second pass over the batch's input. Read them with _batch_stats
    after that action."""
    from pyspark.sql import functions as F

    aggs = [F.count("*").alias("_rows")]
    for c in stats_cols or []:
        aggs += [F.min(c).alias(f"mn_{c}"), F.max(c).alias(f"mx_{c}")]
    obs = Observation()
    return df.observe(obs, *aggs), obs


def _batch_stats(
    spark: SparkSession, obs: Observation, table_dir: str, batch_id: int
) -> dict:
    """The manifest stats of a batch just written at `batch_id` from a
    frame _observe_stats observed: `_rows` (the metadata-only COUNT(*)
    input, snapshot_row_count), `_bytes` (on-disk size, the stream
    sources' maxBytesPerTrigger input) and the zone map [min, max] of
    each `stats_cols` column (read_snapshot_rows' skipping input). The
    aggregates come from the write itself, the bytes from one metadata
    listing of the partition — never a re-read of the written data."""
    row = obs.get
    stats = {
        k[3:]: [_json_scalar(v), _json_scalar(row["mx_" + k[3:]])]
        for k, v in row.items()
        if k.startswith("mn_")
    }
    stats["_rows"] = int(row["_rows"])
    stats["_bytes"] = _partition_bytes(spark, table_dir, batch_id)
    return stats


def write_and_commit_batch(
    spark: SparkSession,
    df: DataFrame,
    table_dir: str,
    batch_id: int,
    stats_cols: list[str] | None = None,
    enforce_schema: bool = False,
    bloom_col: str | None = None,
) -> int:
    """Write a row batch AND publish it with its stats (_batch_stats):
    the manifest records each committed batch's row count, bytes and
    [min, max] for `stats_cols`, so later range reads skip
    non-overlapping batches from METADATA alone — no directory listing,
    no parquet footers, the Delta/Iceberg data-skipping design one level
    above parquet's own row-group stats. With `bloom_col`, a bloom
    sidecar over that column (write_batch_bloom) is published in the
    same commit — the point-lookup skipping axis. With `enforce_schema`,
    the batch is validated against the table BEFORE any bytes land
    (check_batch_schema — additive columns pass, type flips and dropped
    columns refuse)."""
    from .. import streaming

    validated: int | None = None
    if enforce_schema:
        cur0 = read_manifest(spark, table_dir)
        check_batch_schema(spark, table_dir, df, manifest=cur0)
        validated = cur0["version"]
    observed, obs = _observe_stats(df, stats_cols)
    streaming.write_batch_partition(observed, table_dir, batch_id)
    # an EMPTY batch commits a version bump with the id set unchanged:
    # the publish is still observable, the snapshot still consistent
    wrote = _batch_written(spark, table_dir, batch_id)
    entries = {}  # this batch's per-batch manifest entries, by field
    if wrote:
        entries["stats"] = _batch_stats(spark, obs, table_dir, batch_id)
        if bloom_col is not None:
            entries["blooms"] = write_batch_bloom(
                spark, df, table_dir, batch_id, bloom_col
            )

    def change(cur: dict) -> dict:
        nonlocal validated
        # re-validate when the table advanced past the version the
        # pre-write check saw — a concurrent schema-evolving commit in
        # the check->publish window must not slip past enforcement
        # (TOCTOU; the batch's data files are already on disk but stay
        # invisible until the manifest commit, so refusing here still
        # leaves the snapshot untouched)
        if enforce_schema and cur["version"] != validated:
            check_batch_schema(spark, table_dir, df, manifest=cur)
            validated = cur["version"]
        if not wrote:
            return {}
        return {
            "batch_ids": {*cur["batch_ids"], batch_id},
            **{f: {**cur[f], str(batch_id): e} for f, e in entries.items()},
        }

    return _commit_on_latest(spark, table_dir, change)


import re as _re

_DATE_ONLY_RE = _re.compile(r"^\d{4}-\d{2}-\d{2}$")
_TIMESTAMP_RE = _re.compile(r"^\d{4}-\d{2}-\d{2}[ T]\d{2}:\d{2}:\d{2}(\.\d+)?$")


def _skip_lt(a, b) -> bool:
    """`a < b` for the pruning decision, granularity-normalized: when
    one side is a date-only string and the other a timestamp string
    (stats store datetimes as 'YYYY-MM-DD HH:MM:SS' but a caller's
    date bound stays 'YYYY-MM-DD'), pad the date to midnight before
    the lexicographic compare. Without this, a batch whose min is
    exactly midnight of the hi date ('2000-01-31 00:00:00' >
    '2000-01-31') would be wrongly pruned and skipping would LOSE the
    boundary rows. Midnight matches Spark's own date->timestamp cast,
    so the pruned set stays a superset of what the filter keeps. The
    padding is applied ONLY in the mixed-granularity case so plain
    string columns keep exact lexicographic semantics."""
    if isinstance(a, str) and isinstance(b, str):
        if _DATE_ONLY_RE.match(a) and _TIMESTAMP_RE.match(b):
            a = a + " 00:00:00"
        elif _TIMESTAMP_RE.match(a) and _DATE_ONLY_RE.match(b):
            b = b + " 00:00:00"
    return a < b


def prune_snapshot_batches(manifest_dict: dict, col: str, lo, hi) -> list[int]:
    """The data-skipping decision, as a pure function of the manifest:
    keep a batch iff its recorded [min, max] for `col` can overlap
    [lo, hi]; a batch with no stats for `col` is ALWAYS kept (absence
    of metadata must never lose rows — skipping is an optimization,
    not a filter). Date-only vs timestamp bounds are normalized to the
    same granularity before comparing (see _skip_lt)."""
    lo_j, hi_j = _json_scalar(lo), _json_scalar(hi)
    out = []
    stats = manifest_dict.get("stats", {})
    for b in manifest_dict["batch_ids"]:
        s = stats.get(str(b), {}).get(col)
        if s is None or s[0] is None or s[1] is None:
            out.append(b)
        elif not (_skip_lt(s[1], lo_j) or _skip_lt(hi_j, s[0])):
            out.append(b)
    return out


def commit_upsert(
    spark: SparkSession,
    table_dir: str,
    updates: DataFrame,
    key_cols: list[str],
    batch_id: int,
    delete_id: int,
    stats_cols: list[str] | None = None,
) -> int:
    """MERGE / UPSERT as ONE atomic commit: write the updated rows as a
    new batch partition, write an equality-delete file for their keys,
    and publish BOTH in a single manifest version — a reader sees the
    table before the merge or after it, never the torn middle (old row
    deleted, new row not yet visible, or both versions at once).

    The delete file's CUTOFF is the highest committed batch sequence,
    so it masks every OLD row with a matching key but not the new
    batch committed beside it (the Iceberg sequence-number rule;
    without it the upsert's delete would eat its own inserts). The new
    batch id must exceed every committed sequence — upserts append at
    the head of ingestion order.

    At 100 TB: MERGE INTO costs O(|updates|) writes + one metadata
    commit; the matched rows are masked at read time and physically
    dropped at the next copy-on-write catch-up, vs rewriting every
    file that contains a matched key."""
    cur0 = read_manifest(spark, table_dir)
    cur_max = max(
        (manifest_log.effective_seq(b) for b in cur0["batch_ids"]), default=-1
    )
    if manifest_log.effective_seq(batch_id) <= cur_max:
        raise ValueError(
            f"commit_upsert: batch_id={batch_id} does not exceed the "
            f"highest committed sequence {cur_max} — upserts append at "
            "the head of ingestion order"
        )
    from .. import streaming

    observed, obs = _observe_stats(updates, stats_cols)
    streaming.write_batch_partition(observed, table_dir, batch_id)
    if not _batch_written(spark, table_dir, batch_id):
        # empty MERGE: nothing matched, nothing to publish
        return cur0["version"]
    updates.select(*key_cols).distinct().write.mode("overwrite").parquet(
        manifest_log.delete_path(table_dir, delete_id)
    )
    stats = _batch_stats(spark, obs, table_dir, batch_id)
    return _commit_on_latest(
        spark,
        table_dir,
        lambda cur: {
            "batch_ids": {*cur["batch_ids"], batch_id},
            "delete_ids": {*cur["delete_ids"], delete_id},
            "delete_cutoffs": {**cur["delete_cutoffs"], str(delete_id): cur_max},
            "stats": {**cur["stats"], str(batch_id): stats},
        },
    )


# --------------------------------------------------------------------------
# Bloom-filter point-lookup skipping (sidecar filters, manifest-referenced)
# --------------------------------------------------------------------------


def _bloom_size_bits(n_keys: int, bits_per_key: int = 10) -> int:
    """Next power of two >= bits_per_key * n (so the modulo stays cheap
    and the false-positive rate stays ~constant as batches grow)."""
    m = 64
    while m < bits_per_key * max(n_keys, 1):
        m <<= 1
    return m


def write_batch_bloom(
    spark: SparkSession,
    df: DataFrame,
    table_dir: str,
    batch_id: int,
    col: str,
    k_hashes: int = 3,
    bits_per_key: int = 10,
) -> dict:
    """Build and store a batch's BLOOM FILTER sidecar over `col`: bit
    positions are md5-derived ('bl<i>:<value>', same 52-bit prefix rule
    as every hash here, so the Python-side query path reproduces them
    exactly), the bitmap sized to ~bits_per_key x distinct keys (FP ~
    1.7% at 10 bits / 3 hashes regardless of batch size). The sidecar
    is written BEFORE the manifest commit that references it — torn
    sidecars are as invisible as torn data. Zone maps answer RANGE
    predicates; the bloom answers POINT lookups on high-cardinality
    keys that ranges can't bound — together they are the two
    metadata-skipping axes a lakehouse format ships.

    Scale posture: the bitmap is assembled from PER-PARTITION partial
    bitmaps (Arrow-batched mapInPandas packs each executor slice's
    positions into its own m-bit array; OR is associative), so the
    driver ORs O(partitions) fixed-size byte strings — it never
    collects the position list, whose size grows with the batch.

    Returns the manifest entry {"col", "m", "k"} for commit."""
    from pyspark.sql import functions as F

    n = df.select(col).distinct().count()
    m = _bloom_size_bits(n, bits_per_key)
    pos_frames = [
        df.select(
            F.pmod(
                F.conv(
                    F.substring(
                        F.md5(F.concat(F.lit(f"bl{i}:"), F.col(col).cast("string"))),
                        1,
                        13,
                    ),
                    16,
                    10,
                ).cast("long"),
                m,
            ).alias("p")
        )
        for i in range(k_hashes)
    ]
    allpos = pos_frames[0]
    for p in pos_frames[1:]:
        allpos = allpos.union(p)

    n_bytes = m // 8

    def pack_partial_bitmaps(batches):
        import numpy as np

        acc = np.zeros(n_bytes, dtype=np.uint8)
        any_rows = False
        for pdf in batches:
            pos = pdf["p"].to_numpy()
            if len(pos):
                any_rows = True
                np.bitwise_or.at(acc, pos // 8, (1 << (pos % 8)).astype(np.uint8))
        if any_rows:
            import pandas as pd

            yield pd.DataFrame({"bm": [acc.tobytes()]})

    import numpy as np

    partials = allpos.mapInPandas(pack_partial_bitmaps, "bm binary").collect()
    acc = np.zeros(n_bytes, dtype=np.uint8)
    for r in partials:
        acc |= np.frombuffer(r["bm"], dtype=np.uint8)
    _write_small_file(
        spark, manifest_log.bloom_path(table_dir, batch_id), acc.tobytes()
    )
    return {"col": col, "m": m, "k": k_hashes}


def _bloom_might_contain(
    fs: HadoopBackend, table_dir: str, batch_id: int, entry: dict, value
) -> bool:
    import hashlib

    with fs.open(manifest_log.bloom_path(table_dir, batch_id)) as f:
        bits = f.read()
    m, k = entry["m"], entry["k"]
    for i in range(k):
        p = int(
            hashlib.md5(f"bl{i}:{value}".encode()).hexdigest()[:13], 16
        ) % m
        if not (bits[p // 8] >> (p % 8)) & 1:
            return False
    return True


def plan_point_lookup(
    spark: SparkSession, table_dir: str, m: dict, col: str, value
) -> list[int]:
    """The point-lookup skipping decision: keep a batch iff its bloom
    (for `col`) might contain `value`; batches without a bloom for this
    column are ALWAYS kept — like zone maps, skipping optimizes, never
    filters."""
    blooms = m.get("blooms", {})
    fs = HadoopBackend(spark)
    out = []
    for b in m["batch_ids"]:
        entry = blooms.get(str(b))
        if entry is None or entry.get("col") != col:
            out.append(b)
        elif _bloom_might_contain(fs, table_dir, b, entry, value):
            out.append(b)
    return out


def read_point_lookup(
    spark: SparkSession,
    table_dir: str,
    col: str,
    value,
    version: int | None = None,
) -> DataFrame:
    """Point lookup over a committed row table: plan the batch set from
    the blooms, scan only those partitions, filter, and apply the
    manifest's deletes (cutoff-aware). At 100 TB this is the needle
    query — O(matching batches) instead of O(table)."""
    from pyspark.sql import functions as F

    m = read_manifest(spark, table_dir, version)
    if not m["batch_ids"]:
        raise ValueError(f"no committed snapshot in {table_dir}")
    ids = plan_point_lookup(spark, table_dir, m, col, value)
    cutoffs = m.get("delete_cutoffs", {})
    needs_seq = any(
        cutoffs.get(str(d)) is not None for d in m.get("delete_ids", [])
    )
    if not ids:
        rows = spark.read.parquet(
            manifest_log.batch_path(table_dir, m["batch_ids"][0])
        ).limit(0)
        if needs_seq:
            rows = rows.withColumn("_seq", F.lit(0))
    elif needs_seq:
        rows = _rows_with_seq(spark, table_dir, ids)
    else:
        rows = spark.read.parquet(*_batch_paths(table_dir, ids))
    rows = rows.where(F.col(col) == F.lit(value))
    rows = _apply_delete_groups(
        spark, table_dir, m, rows, seq_col="_seq" if needs_seq else None
    )
    return rows.drop("_seq") if needs_seq else rows


def snapshot_row_count(
    spark: SparkSession, table_dir: str, version: int | None = None
) -> tuple[int | None, bool]:
    """METADATA-ONLY COUNT(*): sum the per-batch `_rows` recorded at
    commit time — zero data I/O, O(|manifest|) driver time (the
    aggregate-pushdown-to-metadata trick every table format plays).
    Returns (count, exact):

    - exact=True when every batch carries `_rows` AND no delete file
      can mask any current batch (none exist, or every delete's cutoff
      sits strictly below the lowest batch sequence — true after a
      copy-on-write compaction folded them in);
    - (None, False) otherwise — deletes mask an unknown number of
      rows, so an honest metadata path DECLINES rather than
      approximates; the caller falls back to a real scan."""
    m = read_manifest(spark, table_dir, version)
    if not m["batch_ids"]:
        return (0, True)
    for cutoff, _ in manifest_log.delete_groups(m):
        if any(manifest_log.applies(cutoff, b) for b in m["batch_ids"]):
            return (None, False)
    total = 0
    stats = m.get("stats", {})
    for b in m["batch_ids"]:
        e = stats.get(str(b), {})
        if "_rows" not in e:
            return (None, False)
        total += int(e["_rows"])
    return (total, True)


def history(spark: SparkSession, table_dir: str) -> list[dict]:
    """DESCRIBE HISTORY for a manifest table: one dict per retained
    version — (version, n_batches, n_deletes, horizon) plus a derived
    `change` label (append / delete / compact / rollback / unknown)
    from diffing consecutive manifests. Metadata-only: O(versions)
    small JSON reads, no data I/O."""
    out = []
    prev = None
    for v in list_versions(spark, table_dir):
        m = read_manifest(spark, table_dir, v)
        entry = {
            "version": v,
            "n_batches": len(m["batch_ids"]),
            "n_deletes": len(m.get("delete_ids", [])),
            "horizon": m.get("horizon"),
        }
        if prev is None:
            entry["change"] = "append"
        elif any(b < 0 for b in set(m["batch_ids"]) - set(prev["batch_ids"])):
            entry["change"] = "compact"
        elif set(m["batch_ids"]) > set(prev["batch_ids"]):
            entry["change"] = (
                "upsert"
                if set(m.get("delete_ids", [])) > set(prev.get("delete_ids", []))
                else "append"
            )
        elif set(m.get("delete_ids", [])) > set(prev.get("delete_ids", [])):
            entry["change"] = "delete"
        elif (
            m["batch_ids"] == prev["batch_ids"]
            and m.get("delete_ids") != prev.get("delete_ids")
            or set(m["batch_ids"]) < set(prev["batch_ids"])
        ):
            entry["change"] = "rollback"
        else:
            entry["change"] = "unknown"
        out.append(entry)
        prev = m
    return out


def rollback(spark: SparkSession, table_dir: str, to_version: int) -> int:
    """RESTORE: make the CURRENT snapshot equal a retained older
    version's — by committing a NEW version with the old version's
    content (batch ids, delete files, stats, blooms, horizon). History
    is never rewritten: the bad versions stay readable for forensics
    until vacuum ages them out, and the rollback itself is one more
    atomic commit (the Delta RESTORE semantics, public). Only works
    while `to_version`'s referenced files survive — i.e. within the
    vacuum retention window; a vacuumed target raises at read time."""
    target = read_manifest(spark, table_dir, to_version)
    cur = read_manifest(spark, table_dir)
    if cur["version"] == to_version:
        return cur["version"]
    # the target's content, planned against the current version
    return commit_version(spark, table_dir, {**target, "version": cur["version"]})
