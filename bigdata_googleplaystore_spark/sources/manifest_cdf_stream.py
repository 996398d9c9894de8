"""Change-data-feed STREAMING source over a manifest-committed table —
the retraction-capable twin of `manifest_stream`: where that source
REFUSES versions that commit equality deletes (an append-only stream
cannot represent them), this one emits them, tagging every row with
`_change_type` ('insert' | 'delete'), the public Delta
`readChangeFeed` streaming design.

Semantics, stated precisely (they compose `manifest.snapshot_diff`'s
per-version-step logic, evaluated at PLANNING time):

- The tail walks EVERY intermediate version. Step v-1 -> v emits
  - 'insert' rows for each batch id added at v (masked by v's delete
    groups applicable to that batch — an upsert's own cutoff delete
    never eats the rows committed alongside it), and
  - 'delete' rows for each delete group added at v: the rows of
    v-1's VISIBLE snapshot (each prior batch, minus v-1's applicable
    masks) that match the new group's keys.
- Delete applicability is BATCH-level, because a row's `_seq` is its
  batch's ingestion sequence (`manifest_log.effective_seq`) — so every
  mask decision resolves at planning time from two manifest JSONs,
  and executors only ever see (file, key-set) pairs. Key files ride
  the partition objects; they are broadcast-small by the same design
  premise the batch CDF's broadcast joins rest on, and a SIZE GUARD
  enforces that premise: a plan whose cumulative partition-riding key
  bytes exceed `maxKeyFrameBytes` (default 64 MiB) raises a loud
  error steering to compaction instead of degrading silently (a
  copy-on-write catch-up folds delete masks into data files, after
  which the key frames vanish from every later plan).
- COMPACTION steps (a negative id appears) emit NOTHING and the
  stream keeps running: a compaction rewrites the same logical rows
  (its applied deletes were emitted as 'delete' rows when THEIR
  versions landed), so there is no change data in the step. This is
  deliberately more useful than the batch `snapshot_diff`, which must
  refuse endpoint diffs spanning a rewrite because it cannot
  attribute per-version changes across one.
- `_change_type` values are 'insert' and 'delete' by default: an
  upsert surfaces as delete(old)+insert(new) — the manifest protocol
  stores upserts physically as batch+delete. With the opt-in
  `keyColumns=a,b` option the source PAIRS them back into Delta's
  update images: for a version that commits BOTH new inserts and new
  delete groups whose key columns equal `keyColumns` (the
  commit_upsert shape), the delete rows emit as 'update_preimage' and
  the insert rows whose key appears in that version's delete keys
  emit as 'update_postimage' (other inserts in the same version stay
  'insert'). One documented divergence from Delta MERGE: a paired key
  that did NOT previously exist emits its new row as
  'update_postimage' with no preimage row, where MERGE would tag it
  'insert' — the source classifies from the version's own key frames
  without re-reading the prior snapshot; pair on upserts over
  existing keys, or treat a postimage without preimage as an insert
  downstream. Pairing is all-or-nothing PER VERSION and requires the
  true commit_upsert shape: every new delete group keyed exactly on
  `keyColumns` AND carrying a cutoff that excludes every new batch
  (an upsert's delete masks old rows, never its own inserts). A
  version mixing an append with an unrelated delete — different key
  columns, or a cutoff-None plain delete that masks the co-committed
  batch too — stays plain delete+insert.
- Two divergences from the batch feed, both documented trades:
  (a) a row inserted and deleted WITHIN one batch-feed window emits
  as insert-then-delete here (net-equivalent; a streaming CDF is a
  log, not a window diff); (b) 'delete' rows deduplicate per file,
  not globally — a physically duplicated row visible in multiple
  files emits one delete row per containing file.

Options: the contract shared with `manifest_stream` (startingVersion,
startingTimestamp, maxVersionsPerTrigger, maxBytesPerTrigger,
strictSchemaCheck) lives in `manifest_stream.ManifestTailReader`, this
reader's base; an absent start makes the first micro-batch the CURRENT
snapshot as 'insert' rows (the Delta CDF initial-snapshot contract).
This source adds `keyColumns` (above) and `maxKeyFrameBytes`.

The declared schema must contain a `_change_type` string column and
may contain a `_commit_version` long column (Delta CDF parity): when
declared, every row carries the commit version its change belongs to
(the initial snapshot stamps its endpoint version), which is what
lets a consumer ORDER changes inside a multi-version catch-up trigger
— apply-to-replica flows are ambiguous without it. The remaining
columns read the data files with the same additive-schema-evolution
tolerance as `manifest_stream` (missing columns -> typed nulls). All
storage I/O routes through `sources/storage.py`.

Execution is arrow-native end to end, and a plan decodes each data
file ONCE however many versions touch it: partitions are per FILE,
carrying every version-step's masks (see `_CDFPartition`). The
unmasked-insert hot path streams RecordBatch-to-RecordBatch, and the
MASKED paths (excluded inserts, delete steps) process
RecordBatch-at-a-time through Acero semi/anti joins against the
kilobyte key frames — a
heavily-masked table never holds a whole data file in pandas; only
the MATCHED delete rows (bounded by the delete's own size) accumulate
for the per-file dedup. Join-key equality is SQL equality: a null key
never matches (the pre-arrow pandas path matched NaN==NaN; null
equality-delete keys are not a thing the writer tier produces, so
this is a semantics correction, not a regression).

Reference parity: §2.7 streaming extension tier (the reference's only
streaming surface is console output, challenge.scala C:26-44).
"""

from __future__ import annotations

from pyspark.sql.datasource import DataSource, DataSourceReader, InputPartition
from pyspark.sql.types import StructType

from . import manifest_log
from .manifest_stream import ManifestTailReader, _read_evolved_batches
from .storage import StorageBackend

CHANGE_COL = "_change_type"
VERSION_COL = "_commit_version"

# default cumulative cap on partition-riding key-frame bytes per plan
DEFAULT_MAX_KEY_FRAME_BYTES = 64 << 20


def _load_keys(fs: StorageBackend, table_dir: str, delete_ids: list[int]):
    """One pandas key frame for a delete group — driver-side, key files
    are broadcast-small by design (see module doc)."""
    import pyarrow.parquet as pq

    frames = []
    for d in sorted(delete_ids):
        for path in manifest_log.delete_files(fs, table_dir, d):
            local = fs.local_path(path)
            src = local if local is not None else fs.open(path, "rb")
            frames.append(pq.read_table(src).to_pandas())
            if local is None:
                src.close()
    import pandas as pd

    out = pd.concat(frames, ignore_index=True) if frames else None
    if out is None:
        raise ValueError(
            f"manifest_cdf_stream: delete group {delete_ids} of "
            f"{table_dir} has no key files on disk — vacuumed past this "
            "stream's offset; restart from a fresh checkpoint"
        )
    return out.drop_duplicates()


class _CDFPartition(InputPartition):
    """One data FILE plus every version-step that touches it in this
    plan, masks resolved at planning time.

    Grouping by file makes a multi-version plan O(files) reads rather
    than O(versions x files): the file streams through Arrow once and
    every step's (kilobyte) key-frame joins run against the same
    decoded batches.

    `insert`: None, or (exclude, version, pair_match) — emit the
    file's rows minus `exclude` key frames; rows whose key appears in
    `pair_match` (the same-version delete groups' keys, present only
    under the keyColumns option) tag 'update_postimage' instead of
    'insert'. A file is committed by exactly one version, so at most
    one insert step exists (the initial snapshot carries its endpoint
    version).
    `deletes`: list of (exclude, match, version, pair) steps, version
    ascending — each emits the file's rows minus `exclude` (that
    step's visible-before masks), intersected with `match` (the new
    delete groups' keys), deduplicated per file per step; `pair=True`
    tags them 'update_preimage' instead of 'delete'."""

    def __init__(self, path, insert=None, deletes=None):
        self.path = path
        self.insert = insert  # None | (exclude, version, pair_match)
        self.deletes = deletes or []  # [(exclude, match, version, pair)]


class ManifestCDFStreamReader(ManifestTailReader):
    source = "manifest_cdf_stream"
    meta_columns = (CHANGE_COL, VERSION_COL)

    def __init__(self, schema: StructType, options: dict):
        if CHANGE_COL not in schema.fieldNames():
            raise ValueError(
                f"manifest_cdf_stream requires a `{CHANGE_COL} string` "
                "column in the declared schema — it carries the feed's "
                "insert/delete tag"
            )
        super().__init__(schema, options)
        self.max_key_bytes = int(
            options.get("maxkeyframebytes", DEFAULT_MAX_KEY_FRAME_BYTES)
        )
        kc_opt = options.get("keycolumns")
        if kc_opt is None:
            self.key_columns: list[str] | None = None
        else:
            cols = [c.strip() for c in str(kc_opt).split(",") if c.strip()]
            bad = [
                c
                for c in cols
                if c in self.meta_columns or c not in schema.fieldNames()
            ]
            if not cols or bad:
                raise ValueError(
                    f"manifest_cdf_stream: keyColumns={kc_opt!r} — must "
                    "name one or more declared DATA columns (not "
                    f"{CHANGE_COL}/{VERSION_COL}); offending: {bad}"
                )
            self.key_columns = cols

    # ---- planning (driver, metadata + key files only) ------------------
    def _keys_cached(self, ds: list[int], memo: dict):
        """Per-plan memo over delete-group key frames: a group's key
        file is read ONCE per partitions() call however many batches it
        applies to — without this, one new delete over a B-batch table
        costs O(B) re-reads of the same kilobyte parquet at planning."""
        k = tuple(ds)
        if k not in memo:
            memo[k] = _load_keys(self.fs, self.table_dir, list(ds))
        return memo[k]

    def _mask_frames(self, m: dict, batch_id: int, memo: dict) -> list:
        """Key frames of m's delete groups applicable to `batch_id`."""
        return [
            self._keys_cached(ds, memo)
            for cutoff, ds in manifest_log.delete_groups(m)
            if manifest_log.applies(cutoff, batch_id)
        ]

    def _insert_step(
        self, parts_by_file: dict, m: dict, batch_ids: list[int],
        memo: dict, version: int, pair_match: list | None = None,
    ) -> None:
        for b in sorted(batch_ids):
            masks = self._mask_frames(m, b, memo)
            for f in self._batch_files(b):
                self._part(parts_by_file, f).insert = (
                    masks, version, pair_match or []
                )

    @staticmethod
    def _part(parts_by_file: dict, f: str) -> _CDFPartition:
        if f not in parts_by_file:
            parts_by_file[f] = _CDFPartition(f)
        return parts_by_file[f]

    def _guard_key_bytes(self, parts: list) -> list:
        """The broadcast-small premise, ENFORCED: key frames are
        pickled into every partition they mask, so the plan's real
        serialized key cost is the per-partition sum. A frame shared
        by several steps of ONE partition is counted once (pickle
        memoizes shared objects within a partition, so that is the
        true serialized cost). Past the cap the plan refuses loudly
        (steering to compaction) instead of shipping hundreds of MB
        of keys to every task — the silent degradation a pathological
        delete set would otherwise cause."""
        sizes: dict[int, int] = {}

        def sz(f) -> int:
            k = id(f)
            if k not in sizes:
                sizes[k] = int(f.memory_usage(deep=True).sum())
            return sizes[k]

        total = 0
        for p in parts:
            frames: dict[int, object] = {}
            if p.insert is not None:
                exclude, _v, pair_match = p.insert
                for f in list(exclude) + list(pair_match):
                    frames[id(f)] = f
            for exclude, match, _v, _pair in p.deletes:
                for f in list(exclude) + list(match):
                    frames[id(f)] = f
            total += sum(sz(f) for f in frames.values())
        if self.max_key_bytes > 0 and total > self.max_key_bytes:
            raise ValueError(
                f"manifest_cdf_stream: this micro-batch plan carries "
                f"{total} bytes of delete-key frames across "
                f"{len(parts)} partitions, over the "
                f"maxKeyFrameBytes={self.max_key_bytes} cap. The table's "
                "delete masks have outgrown the broadcast-small design "
                "premise — run a copy-on-write catch-up/compaction "
                "(streaming.manifest) to fold the deletes into data "
                "files, then resume; or raise maxKeyFrameBytes if the "
                "executors can genuinely afford it."
            )
        return parts

    def _plan(self, sv: int, ev: int, m_end: dict | None) -> list:
        memo: dict = {}
        parts_by_file: dict[str, _CDFPartition] = {}
        if sv < 0 and self.snapshot_mode:
            # initial snapshot: the CURRENT visible rows, all 'insert'
            m = m_end or self._manifest(ev)
            self._insert_step(parts_by_file, m, m["batch_ids"], memo, ev)
            return self._guard_key_bytes(list(parts_by_file.values()))
        m_prev = self._manifest(sv)
        for v in range(max(sv + 1, 0), ev + 1):
            m_v = self._manifest(v)
            prev_ids = set(m_prev["batch_ids"])
            new_ids = set(m_v["batch_ids"]) - prev_ids
            new_dels = set(m_v.get("delete_ids") or []) - set(
                m_prev.get("delete_ids") or []
            )
            if any(b < 0 for b in new_ids):
                # compaction step: a rewrite of rows already emitted
                # (its applied deletes were emitted at their own
                # versions) — no change data; skip and keep streaming
                m_prev = m_v
                continue
            ngroups = dict(manifest_log.delete_groups({
                "delete_ids": sorted(new_dels),
                "delete_cutoffs": m_v.get("delete_cutoffs"),
            }))
            # UPDATE-IMAGE PAIRING (keyColumns option): a version is
            # the commit_upsert shape iff it commits BOTH inserts and
            # delete groups keyed exactly on keyColumns whose cutoffs
            # EXCLUDE every new batch (an upsert's delete masks old
            # rows, never its own inserts). A cutoff-None plain delete
            # co-committed with an append fails the cutoff test and
            # stays unpaired — its retractions are real deletes (the
            # masked-out co-inserts emit nothing), not update
            # preimages. Paired deletes become preimages; paired
            # inserts matching those keys become postimages (module
            # doc covers the one Delta MERGE divergence on
            # never-present keys).
            #
            # SINGLE-NEW-BATCH ASSUMPTION: pair_v is version-global —
            # when a version is tagged as the upsert shape, EVERY new
            # batch's rows matching the delete keys become
            # update_postimage. commit_upsert commits exactly one new
            # batch per version, so this is exact for every log this
            # engine writes; a HAND-BUILT log that co-commits the
            # upsert batch plus an unrelated second append in the same
            # version (cutoffs excluding both) would get that second
            # batch's key-colliding rows mislabeled update_postimage.
            # The manifest format carries no per-batch writer intent,
            # so the two batches are indistinguishable post hoc —
            # callers synthesizing logs by hand must commit unrelated
            # appends as their own versions (as write_and_commit_batch
            # does).
            pair_v = (
                self.key_columns is not None
                and bool(new_ids)
                and bool(ngroups)
                and all(
                    cutoff is not None
                    and all(not manifest_log.applies(cutoff, b) for b in new_ids)
                    and sorted(self._keys_cached(ds, memo).columns)
                    == sorted(self.key_columns)
                    for cutoff, ds in ngroups.items()
                )
            )
            # deletes FIRST: they retract from the pre-step snapshot.
            # Steps append to the per-FILE partition so a file touched
            # by many versions is decoded once per plan (class doc).
            if ngroups:
                for b in sorted(prev_ids):
                    match = [
                        self._keys_cached(ds, memo)
                        for cutoff, ds in ngroups.items()
                        if manifest_log.applies(cutoff, b)
                    ]
                    if not match:
                        continue
                    exclude = self._mask_frames(m_prev, b, memo)
                    for f in self._batch_files(b):
                        self._part(parts_by_file, f).deletes.append(
                            (exclude, match, v, pair_v)
                        )
            if new_ids:
                pair_match = (
                    [self._keys_cached(ds, memo) for ds in ngroups.values()]
                    if pair_v
                    else None
                )
                self._insert_step(
                    parts_by_file, m_v, sorted(new_ids), memo, v,
                    pair_match=pair_match,
                )
            m_prev = m_v
        return self._guard_key_bytes(list(parts_by_file.values()))

    # ---- execution (executors, arrow-batched) -------------------------
    def read(self, partition: _CDFPartition):
        import numpy as np
        import pyarrow as pa

        from pyspark.sql.pandas.types import to_arrow_schema

        declared = to_arrow_schema(self.schema)
        data_schema = StructType(
            [
                f
                for f in self.schema.fields
                if f.name not in (CHANGE_COL, VERSION_COL)
            ]
        )
        data_arrow = to_arrow_schema(data_schema)

        def emit(tbl, tag, version, tags=None):
            """Tag a data-column table and yield it as RecordBatches.
            `tags` (per-row string array) overrides the constant tag —
            the paired-insert path mixes insert/update_postimage."""
            if tbl.num_rows == 0:
                return
            cols = []
            for field in declared:
                if field.name == CHANGE_COL:
                    cols.append(
                        tags
                        if tags is not None
                        else pa.array([tag] * tbl.num_rows, pa.string())
                    )
                elif field.name == VERSION_COL:
                    cols.append(
                        pa.array([version] * tbl.num_rows, pa.int64())
                    )
                else:
                    cols.append(tbl.column(field.name))
            yield from pa.table(cols, schema=declared).to_batches()

        def key_table(pdf) -> pa.Table:
            """A key frame as an arrow table, key columns cast to the
            declared data types so Acero join keys line up exactly."""
            kt = pa.Table.from_pandas(pdf, preserve_index=False)
            cols = []
            for name in kt.column_names:
                col = kt.column(name)
                if name in data_arrow.names:
                    col = col.cast(data_arrow.field(name).type)
                cols.append(col)
            return pa.table(cols, names=kt.column_names)

        ins = partition.insert
        if ins is not None and not ins[0] and not ins[2] and not partition.deletes:
            # the HOT path: an unmasked insert file untouched by any
            # delete step in this plan (the overwhelming majority of a
            # real feed's volume) streams arrow-to-arrow — constant
            # tag columns appended per RecordBatch
            for rb in _read_evolved_batches(
                self.fs, partition.path, data_schema
            ):
                yield from emit(pa.Table.from_batches([rb]), "insert", ins[1])
            return

        # MASKED paths, still RecordBatch-at-a-time and ONE decode per
        # file however many version-steps touch it: per batch, Acero
        # semi-joins over the KEY COLUMNS ONLY (plus a row-id) compute
        # each step's membership masks, and the batch is row-filtered
        # by mask — nested payload columns (arrays, structs) never
        # enter a join, which Acero would reject even as non-key
        # fields. The kilobyte key frames are the only per-batch join
        # state, so a heavily-masked file never materializes in
        # pandas; only MATCHED delete rows (bounded by the deletes'
        # own sizes) accumulate, for the per-file-per-step dedup the
        # module doc promises.
        import pyarrow.compute as pc

        ins_exclude = [key_table(k) for k in ins[0]] if ins else []
        ins_pair = [key_table(k) for k in ins[2]] if ins else []
        del_steps = [
            (
                [key_table(k) for k in exclude],
                [key_table(k) for k in match],
                version,
                pair,
            )
            for exclude, match, version, pair in partition.deletes
        ]

        def hit_mask(t: pa.Table, kts: list) -> np.ndarray:
            """Boolean per-row membership: row's key tuple appears in
            ANY of `kts` (left-semi over key columns + __rid only;
            null keys never match — SQL equality)."""
            hit = np.zeros(t.num_rows, dtype=bool)
            if not kts or t.num_rows == 0:
                return hit
            rid = pa.array(np.arange(t.num_rows, dtype=np.int64))
            for kt in kts:
                probe = t.select(list(kt.column_names)).append_column(
                    "__rid", rid
                )
                sub = probe.join(
                    kt, keys=list(kt.column_names), join_type="left semi"
                )
                hit[sub.column("__rid").to_numpy(zero_copy_only=False)] = True
            return hit

        matched_deletes: list[list[pa.Table]] = [[] for _ in del_steps]
        for rb in _read_evolved_batches(self.fs, partition.path, data_schema):
            t = pa.Table.from_batches([rb])
            if ins is not None:
                keep = ~hit_mask(t, ins_exclude)
                if keep.any():
                    ti = t.filter(pa.array(keep))
                    tags = None
                    if ins_pair:
                        hit = hit_mask(ti, ins_pair)
                        tags = pc.if_else(
                            pa.array(hit),
                            pa.scalar("update_postimage", pa.string()),
                            pa.scalar("insert", pa.string()),
                        )
                    yield from emit(ti, "insert", ins[1], tags)
            for i, (exclude, match, _v, _pair) in enumerate(del_steps):
                keep = ~hit_mask(t, exclude)
                if not keep.any():
                    continue
                td = t.filter(pa.array(keep))
                sel = td.filter(pa.array(hit_mask(td, match)))
                if sel.num_rows:
                    matched_deletes[i].append(sel)
        for i, (_excl, _match, version, pair) in enumerate(del_steps):
            if not matched_deletes[i]:
                continue
            acc = pa.concat_tables(matched_deletes[i])
            try:
                # per-file-per-step dedup (module contract), arrow-side
                acc = acc.group_by(
                    acc.column_names, use_threads=False
                ).aggregate([])
            except (pa.ArrowInvalid, pa.ArrowNotImplementedError):
                pass  # unhashable cell types (arrays): emit as-is
            yield from emit(
                acc.select(data_arrow.names),
                "update_preimage" if pair else "delete",
                version,
            )


class ManifestCDFBatchReader(DataSourceReader):
    """BATCH change feed — Delta's `table_changes(tbl, start, end)`
    parity: `spark.read.format("manifest_cdf_stream")` with
    `startingVersion` (or `startingTimestamp`; one is REQUIRED — a
    batch of "changes since nothing" is the snapshot read's job, not
    this reader's) and optional `endingVersion` (default: the current
    latest). Planning and execution are the STREAM reader's own
    partitions()/read(), run once over [start, end] — per-version
    attribution, compaction-step skipping, pairing, masks, guards and
    the arrow paths are all shared, so the batch and streaming feeds
    can never drift apart."""

    def __init__(self, schema: StructType, options: dict):
        if (
            options.get("startingversion") is None
            and options.get("startingtimestamp") is None
        ):
            raise ValueError(
                "manifest_cdf_stream batch read: startingVersion or "
                "startingTimestamp is required (table_changes "
                "semantics) — for current rows use the snapshot read"
            )
        self._inner = ManifestCDFStreamReader(schema, options)
        ev_opt = options.get("endingversion")
        latest = manifest_log.latest_version(self._inner.fs, self._inner.table_dir)
        if latest is None:
            raise ValueError(
                f"manifest_cdf_stream batch read: no committed snapshot "
                f"in {self._inner.table_dir}"
            )
        self._end = latest if ev_opt is None else int(ev_opt)
        if self._end > latest:
            raise ValueError(
                f"manifest_cdf_stream batch read: endingVersion="
                f"{self._end} exceeds the latest committed version "
                f"{latest}"
            )
        if self._end < self._inner.starting + 1:
            raise ValueError(
                "manifest_cdf_stream batch read: endingVersion="
                f"{self._end} precedes the resolved starting version "
                f"{self._inner.starting + 1}"
            )

    def partitions(self):
        return self._inner.partitions(
            {"version": self._inner.starting}, {"version": self._end}
        )

    def read(self, partition):
        return self._inner.read(partition)


class ManifestCDFStreamSource(DataSource):
    """`spark.readStream.format("manifest_cdf_stream")
    .option("path", dir).schema(... , _change_type string)` — and the
    BATCH form `spark.read.format("manifest_cdf_stream")` for Delta's
    table_changes parity (see ManifestCDFBatchReader)."""

    @classmethod
    def name(cls) -> str:
        return "manifest_cdf_stream"

    def schema(self):
        raise ValueError(
            "manifest_cdf_stream requires an explicit .schema(...) "
            "including a `_change_type string` column"
        )

    def streamReader(self, schema: StructType) -> ManifestCDFStreamReader:
        return ManifestCDFStreamReader(schema, self.options)

    def reader(self, schema: StructType) -> ManifestCDFBatchReader:
        return ManifestCDFBatchReader(schema, self.options)


def register(spark) -> None:
    spark.dataSource.register(ManifestCDFStreamSource)


def load(spark, path: str, schema: str, *, stream: bool = True, **options):
    """The change feed of the table at `path`: a streaming read, or the
    batch table_changes read with `stream=False`; `options` by name."""
    register(spark)
    reader = spark.readStream if stream else spark.read
    return (
        reader.format("manifest_cdf_stream")
        .schema(schema)
        .option("path", path)
        .options(**options)
        .load()
    )
