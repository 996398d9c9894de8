"""CDF streaming-source PLANNING cost probe.

The claim to measure: a running manifest_cdf_stream's per-trigger
planning cost is DELTA-sized, not history-sized — one step reads two
manifest JSONs plus the step's key files, however long the table's
commit log is — and a new delete group's key file is read ONCE per
plan no matter how many prior batches it applies to (the per-plan key
memo). Whole-log replay is stated honestly as O(history).

Pure driver-side probe: the reader plans from manifest JSONs and
directory listings through the storage seam, so the table is built
with pyarrow + json directly (no Spark session) — what makes this
probe run in seconds.

Usage: python tools/cdf_stream_probe.py
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

import pyarrow as pa
import pyarrow.parquet as pq

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bigdata_googleplaystore_spark.sources import manifest_cdf_stream as mc  # noqa: E402
from bigdata_googleplaystore_spark.sources import manifest_log  # noqa: E402

from pyspark.sql.types import (  # noqa: E402
    LongType,
    StringType,
    StructField,
    StructType,
)

SCHEMA = StructType(
    [
        StructField("id", LongType()),
        StructField("k", StringType()),
        StructField("_change_type", StringType()),
    ]
)


def build_table(root: str, versions: int, rows_per_batch: int = 100) -> None:
    shutil.rmtree(root, ignore_errors=True)
    os.makedirs(manifest_log.manifest_dir(root))
    ids: list[int] = []
    for v in range(versions):
        b = v
        bdir = manifest_log.batch_path(root, b)
        os.makedirs(bdir)
        lo = b * rows_per_batch
        t = pa.table(
            {
                "id": pa.array(range(lo, lo + rows_per_batch), pa.int64()),
                "k": pa.array([str(i % 7) for i in range(rows_per_batch)]),
            }
        )
        pq.write_table(t, os.path.join(bdir, "part-0.parquet"))
        ids.append(b)
        with open(manifest_log.version_path(root, v), "w") as f:
            json.dump(
                {"version": v, "batch_ids": sorted(ids), "delete_ids": []}, f
            )


def add_delete_version(root: str, versions: int, keys: list[int]) -> int:
    """Commit version `versions` = prior ids + one delete group d0."""
    ddir = manifest_log.delete_path(root, 0)
    os.makedirs(ddir, exist_ok=True)
    pq.write_table(
        pa.table({"id": pa.array(keys, pa.int64())}),
        os.path.join(ddir, "part-0.parquet"),
    )
    v = versions
    with open(manifest_log.version_path(root, v), "w") as f:
        json.dump(
            {
                "version": v,
                "batch_ids": list(range(versions)),
                "delete_ids": [0],
            },
            f,
        )
    return v


def timed_partitions(reader, sv: int, ev: int) -> tuple[float, int]:
    t0 = time.perf_counter()
    parts = reader.partitions({"version": sv}, {"version": ev})
    return time.perf_counter() - t0, len(parts)


def main() -> None:
    base = "/tmp/cdf_probe"
    print("H = history length (committed versions), each +1 batch of 100 rows")
    print()
    print("1) single-step tail plan at the head (the per-trigger steady state):")
    for h in (16, 64, 256, 1024):
        root = f"{base}_{h}"
        build_table(root, h)
        r = mc.ManifestCDFStreamReader(SCHEMA, {"path": root})
        # warm the OS page cache for the two JSONs, then time
        timed_partitions(r, h - 2, h - 1)
        dt, n = timed_partitions(r, h - 2, h - 1)
        print(f"  H={h:5d}: {dt*1e3:7.2f} ms, {n} partitions (expect flat, 1 file)")

    print()
    print("2) ONE new delete group over all H prior batches (key memo):")
    for h in (16, 64, 256, 1024):
        root = f"{base}_{h}"
        dv = add_delete_version(root, h, keys=list(range(0, h * 100, 50)))
        reads = {"n": 0}
        orig = mc._load_keys

        def counting(fs, td, ds, _orig=orig, _reads=reads):
            _reads["n"] += 1
            return _orig(fs, td, ds)

        mc._load_keys = counting
        try:
            r = mc.ManifestCDFStreamReader(SCHEMA, {"path": root})
            dt, n = timed_partitions(r, dv - 1, dv)
        finally:
            mc._load_keys = orig
        print(
            f"  H={h:5d}: {dt*1e3:7.2f} ms, {n} delete partitions, "
            f"key-file reads={reads['n']} (expect 1)"
        )

    print()
    print("3) whole-log replay plan (startingVersion=0) — honestly O(H):")
    for h in (16, 64, 256, 1024):
        root = f"{base}_{h}"
        r = mc.ManifestCDFStreamReader(
            SCHEMA, {"path": root, "startingversion": "0"}
        )
        dt, n = timed_partitions(r, -1, h - 1)
        print(f"  H={h:5d}: {dt*1e3:7.2f} ms, {n} partitions")

    for h in (16, 64, 256, 1024):
        shutil.rmtree(f"{base}_{h}", ignore_errors=True)


if __name__ == "__main__":
    main()
