"""CDF masked-path EXECUTOR cost probe.

The claim to measure: after the r12 arrow rewrite, the masked read
paths (excluded inserts, delete partitions) scale LINEARLY in file
rows at RecordBatch granularity — peak working memory is one
RecordBatch plus the kilobyte key frames plus (for deletes) only the
MATCHED rows, never the whole file in pandas. The probe times
ManifestCDFStreamReader.read() directly (the exact code executors
run) over row-count octaves with a fixed-fraction delete key set.

Pure single-process probe over a memory:// table (no Spark session).

Usage: python tools/cdf_masked_path_probe.py
"""

from __future__ import annotations

import io
import json
import os
import sys
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bigdata_googleplaystore_spark.sources import manifest_cdf_stream as mc  # noqa: E402
from bigdata_googleplaystore_spark.sources import manifest_log  # noqa: E402
from bigdata_googleplaystore_spark.sources import storage  # noqa: E402

from pyspark.sql.types import (  # noqa: E402
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

SCHEMA = StructType(
    [
        StructField("id", LongType()),
        StructField("v", DoubleType()),
        StructField("_change_type", StringType()),
    ]
)

DELETE_FRACTION = 0.01  # 1% of keys deleted, like the bench table


def build(mem, tbl: str, n_rows: int) -> None:
    mem.clear()
    rng = np.random.default_rng(12)
    ids = np.arange(n_rows, dtype=np.int64)
    data = pa.table(
        {"id": pa.array(ids), "v": pa.array(rng.random(n_rows))}
    )
    buf = io.BytesIO()
    # many row groups so the per-batch path actually iterates
    pq.write_table(data, buf, row_group_size=max(1024, n_rows // 32))
    mem.put(f"{manifest_log.batch_path(tbl, 0)}/part-0.parquet", buf.getvalue())
    keys = ids[:: int(1 / DELETE_FRACTION)]
    kbuf = io.BytesIO()
    pq.write_table(pa.table({"id": pa.array(keys)}), kbuf)
    mem.put(f"{manifest_log.delete_path(tbl, 0)}/part-0.parquet", kbuf.getvalue())
    mem.put(
        manifest_log.version_path(tbl, 0),
        json.dumps({"version": 0, "batch_ids": [0], "delete_ids": []}).encode(),
    )
    mem.put(
        manifest_log.version_path(tbl, 1),
        json.dumps(
            {"version": 1, "batch_ids": [0], "delete_ids": [0]}
        ).encode(),
    )


def drain_rows(r, part) -> int:
    n = 0
    for rb in r.read(part):
        n += rb.num_rows
    return n


def main() -> None:
    tbl = "memory://cdfprobe"
    mem = storage.get_backend(tbl)
    print(f"{'rows':>10} {'insert_masked_s':>16} {'delete_s':>10} "
          f"{'ins_out':>10} {'del_out':>8}")
    prev = None
    for n_rows in (10_000, 40_000, 160_000, 640_000, 2_560_000):
        build(mem, tbl, n_rows)
        # masked INSERT: initial snapshot at v1 (delete group applies)
        snap = mc.ManifestCDFStreamReader(SCHEMA, {"path": tbl})
        (ipart,) = snap.partitions({"version": -1}, {"version": 1})
        assert ipart.insert[0], "probe expects the masked insert path"
        t0 = time.perf_counter()
        ins_out = drain_rows(snap, ipart)
        t_ins = time.perf_counter() - t0
        # DELETE partition: step v0 -> v1
        tail = mc.ManifestCDFStreamReader(
            SCHEMA, {"path": tbl, "startingversion": "0"}
        )
        dparts = [
            p
            for p in tail.partitions({"version": 0}, {"version": 1})
            if p.deletes
        ]
        (dpart,) = dparts
        t0 = time.perf_counter()
        del_out = drain_rows(tail, dpart)
        t_del = time.perf_counter() - t0
        ratio = "" if prev is None else f"  (x{t_ins / prev:.2f} ins vs x4 rows)"
        prev = t_ins
        exp_del = len(range(0, n_rows, int(1 / DELETE_FRACTION)))
        assert ins_out == n_rows - exp_del and del_out == exp_del
        print(
            f"{n_rows:>10} {t_ins:>16.3f} {t_del:>10.3f} "
            f"{ins_out:>10} {del_out:>8}{ratio}"
        )
    mem.clear()


if __name__ == "__main__":
    main()
