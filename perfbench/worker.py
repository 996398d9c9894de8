"""One fresh engine process: start the session, locate the inputs, run
the workload's passes and check every output.

Started by run.py, which passes the wall-clock time just before it spawned
this process, so `setup_s` covers interpreter start, the engine's imports,
`get_spark` and locating the inputs. The benchmark's own modules (and the
pandas, numpy and pyarrow they import) are imported only after that.
Results go to the JSON file named by `--out`.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import statistics
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from bigdata_googleplaystore_spark.session import get_spark  # noqa: E402
from procs import session_cpu_s  # noqa: E402


def du(path: str) -> int:
    total = 0
    for d, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(d, f)) for f in files)
    return total


RAISED = object()  # the result of an op that raised


def locate(inputs: dict, tables: list[str]) -> None:
    """Resolve every input file; a missing one fails here, before timing."""
    files = [os.path.join(inputs["tables"], f"{t}.parquet") for t in tables]
    for f in files + [v for k, v in inputs.items() if k != "tables"]:
        os.stat(f)


class Runner:
    def __init__(self, spark, w, inputs, expected, work, tracer=None):
        self.spark, self.w, self.inputs, self.expected = spark, w, inputs, expected
        self.work, self.tracer = work, tracer
        self.attempted = self.failed = 0
        self.passes = 0
        self.curve: list[float] = []  # untraced pass times, in order

    def run_pass(self, traced: bool = False) -> dict:
        """Run every op once in a fresh directory; return the pass's wall
        time (the sum of the ops' timed regions) and what it left on disk."""
        from workloads import Ctx

        index = self.passes
        self.passes += 1
        out = os.path.join(self.work, f"pass-{index}")
        os.makedirs(out)
        tr = self.tracer if traced else None
        ctx = Ctx(self.spark, self.inputs, out, self.expected)
        if tr is not None:
            ctx.phase = tr.phase
        total, op_s, done = 0.0, {}, []
        cpu0 = session_cpu_s(os.getsid(0))
        with tr.pass_span(index) if tr else contextlib.nullcontext():
            for op in self.w.ops:
                t0 = time.perf_counter()
                try:
                    with tr.op_span(op.name) if tr else contextlib.nullcontext():
                        done.append((op, op.run(ctx)))
                except Exception:  # an op that raises is a failed op
                    traceback.print_exc()
                    done.append((op, RAISED))
                op_s[op.name] = time.perf_counter() - t0
                total += op_s[op.name]
        cpu = session_cpu_s(os.getsid(0)) - cpu0
        # Outputs are checked after the pass, so the pass's CPU time is the
        # engine's alone.
        rows = 0
        for op, res in done:
            self.attempted += 1
            try:
                ok = res is not RAISED and bool(op.check(ctx, res))
            except Exception:
                traceback.print_exc()
                ok = False
            if not ok:
                self.failed += 1
                print(f"perfbench: {op.name} failed in pass {index}",
                      file=sys.stderr)
            rows += len(res) if hasattr(res, "columns") else 0
        self.spark.catalog.clearCache()
        if tr is None:
            self.curve.append(total)
        res = {"pass_s": total, "cpu_s": cpu, "stored_bytes": du(out),
               "op_s": op_s, "result_rows": rows, "out": out}
        if tr is not None:
            res["layers"] = self.layer_stats(index, res)
        shutil.rmtree(out, ignore_errors=True)
        return res

    def layer_stats(self, index: int, res: dict) -> dict:
        stats = {}
        out = res["out"]
        if self.w.playstore:
            stats["playstore.out_mb"] = sum(
                du(os.path.join(out, d)) for d in (
                    "best_apps.csv", "googleplaystore_cleaned.gz",
                    "googleplaystore_metrics.gz")
            ) / 1e6
        if self.w.lakehouse:
            stats.update(lakehouse_stats(self.spark, out, self.inputs))
        return self.tracer.collect(index, res["result_rows"], stats)


def lakehouse_stats(spark, out: str, inputs: dict) -> dict:
    import pyarrow as pa
    import pyarrow.parquet as pq

    import check
    from bigdata_googleplaystore_spark.streaming import manifest as mf

    table = os.path.join(out, "orders_table")
    m = mf.read_manifest(spark, table)
    kept = mf.prune_snapshot_batches(m, "o_orderdate", *check.SNAPSHOT_RANGE)
    orders = pq.read_table(
        os.path.join(inputs["tables"], "orders.parquet"),
        columns=["o_orderkey", "o_orderdate", "o_orderpriority", "o_totalprice"],
    )
    updated = orders["o_orderkey"].to_numpy() % check.UPSERT_MOD == 0
    committed = orders.nbytes + orders.filter(pa.array(updated)).nbytes
    files = sum(len(f) for _, _, f in os.walk(table))
    return {
        "cdf.rows": pq.read_table(os.path.join(out, "cdf_sink")).num_rows,
        "manifest.commits": m["version"] + 1,
        "manifest.files_written": files,
        "manifest.write_amp": du(table) / committed,
        "manifest.batches_scanned_ratio": len(kept) / len(m["batch_ids"]),
    }


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--inputs", required=True, help="JSON file from run.py")
    ap.add_argument("--work", required=True)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=1.0)
    ap.add_argument("--spawn-wall", type=float, required=True)
    ap.add_argument("--out", required=True)
    a = ap.parse_args()

    t0 = time.perf_counter()
    spark = get_spark(app_name=f"perfbench-{a.workload}")
    get_spark_s = time.perf_counter() - t0
    with open(a.inputs) as f:
        spec = json.load(f)
    locate(spec["inputs"], spec["tables"])
    setup_s = time.time() - a.spawn_wall
    result = {"setup_s": setup_s, "get_spark_s": get_spark_s}
    result.update(run_full(spark, spec, a))
    with open(a.out, "w") as f:
        json.dump(result, f)
    # No orderly shutdown: run.py kills this process's session (the JVM and
    # its Python workers) as soon as the result is written, and waits for it.
    sys.stdout.flush()
    sys.stderr.flush()
    os._exit(0)


def run_full(spark, spec: dict, a) -> dict:
    import workloads

    w = workloads.WORKLOADS[a.workload]
    expected = workloads.load_expected(spec["expected"])
    tracer = None
    if a.trace:
        from layers import Tracer

        tracer = Tracer(spark)
    r = Runner(spark, w, spec["inputs"], expected, a.work, tracer)
    # The job is the cold pass and the next w.passes passes; passes after
    # it (until --seconds have passed) feed only the pass_s diagnostic.
    # With tracing, every traced pass sits between two untraced ones and is
    # compared with their mean, so the JIT curve does not read as overhead.
    t_end = time.perf_counter() + a.seconds
    cold = r.run_pass()
    measured, traced, overhead = [r.run_pass()], [], []
    while (len(measured) < w.passes or time.perf_counter() < t_end
           or (tracer is not None and not traced)):
        if tracer is not None:
            traced.append(r.run_pass(traced=True))
        measured.append(r.run_pass())
        if tracer is not None:
            around = (measured[-2]["pass_s"] + measured[-1]["pass_s"]) / 2
            overhead.append(100.0 * (traced[-1]["pass_s"] / around - 1.0))
    # pass_s is the sum of every op's median over the warm passes, so a
    # burst of host load that slows one op in one pass does not count.
    op_s = {k: statistics.median(p["op_s"][k] for p in measured)
            for k in measured[0]["op_s"]}
    job = [cold] + measured[:w.passes]
    out = {
        "job_s": sum(p["pass_s"] for p in job),
        "job_cpu_s": sum(p["cpu_s"] for p in job),
        "cold_pass_s": cold["pass_s"],
        "cold_op_s": cold["op_s"],
        "passes_s": [p["pass_s"] for p in measured],
        "pass_s": sum(op_s.values()),
        "stored_mb": statistics.median(p["stored_bytes"] for p in measured) / 1e6,
        "op_s": op_s,
        "curve_s": r.curve,
        "cpu_curve_s": [p["cpu_s"] for p in [cold] + measured],
        "attempted": r.attempted,
        "failed": r.failed,
    }
    if tracer is not None:
        from layers import median_metrics

        layers = median_metrics([p["layers"] for p in traced])
        layers["trace.overhead_pct"] = statistics.median(overhead)
        out["layers"] = layers
        out["layer_samples"] = [p["layers"] for p in traced]
        out["spans"] = tracer.spans
    return out


if __name__ == "__main__":
    sys.exit(main())
