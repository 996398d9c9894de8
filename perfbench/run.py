"""Benchmark entry point.

    python3 perfbench/run.py --workload etl_small --seed 1 --seconds 30 --trace 0

Run from the repository root. Generates the workload's inputs from the
seed (cached per seed under .perfbench_work/inputs), then starts one fresh
engine process (perfbench/worker.py) on local[N], N = cores / 2. That
process starts the session through `session.get_spark` and runs the
workload's job: a cold pass and a fixed number of warm passes, then more
warm passes if --seconds have not passed since the job started. Every
output is checked against its oracle outside the timed regions.

- trace 0 prints the end-to-end metrics: setup_s, job_cpu_s (CPU seconds
  the engine's processes spent on the job), stored_mb.
- trace 1 puts a traced pass between every two untraced warm passes and
  prints the per-layer metrics (perfbench/layers.py); spans and a per-op
  breakdown go to .perfbench_work/traces/<workload>-seed<seed>.json.

The last line of stdout is one JSON object: correct, attempted, failed,
metrics. The line before it, starting with `# perfbench`, carries sample
counts, the job's wall time job_s, the cold pass, pass_s (the sum of
every op's median over the warm passes), the per-pass wall and CPU curves,
per-op times and the host diagnostics
host.steal_s and host.cpu_pressure_s (steal and CPU-pressure seconds
during the run), so a slow run can be attributed.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import signal
import subprocess
import sys
import threading
import time

from procs import session_rss, session_stats

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")
WORKER_TIMEOUT_S = 165.0


def cores() -> int:
    return max(1, (os.cpu_count() or 2) // 2)


def host_counters() -> dict:
    """Cumulative steal and CPU-pressure seconds of the host."""
    with open("/proc/stat") as f:
        cpu = f.readline().split()
    steal = int(cpu[8]) / os.sysconf("SC_CLK_TCK")
    pressure = 0.0
    try:
        with open("/proc/pressure/cpu") as f:
            some = f.readline().split()
        pressure = int(some[-1].split("=")[1]) / 1e6
    except (OSError, IndexError, ValueError):
        pass
    return {"host.steal_s": steal, "host.cpu_pressure_s": pressure}


class RssSampler(threading.Thread):
    """Peak summed RSS of every process in one session (the worker, its JVM
    and the JVM's Python workers)."""

    def __init__(self, sid: int, interval: float = 0.05):
        super().__init__(daemon=True)
        self.sid, self.interval = sid, interval
        self.peak = 0
        self._halt = threading.Event()

    def run(self):
        while not self._halt.is_set():
            self.peak = max(self.peak, session_rss(self.sid))
            self._halt.wait(self.interval)

    def stop(self):
        self._halt.set()
        self.join()


def stop_session(sid: int) -> None:
    """Kill every process of session `sid` and wait until none is left."""
    while procs := session_stats(sid):
        for f in procs:
            with contextlib.suppress(ProcessLookupError):
                os.kill(int(f[0]), signal.SIGKILL)
        time.sleep(0.02)


def run_worker(args: list[str], env: dict, cwd: str,
               timeout: float) -> tuple[dict, int]:
    """Start one worker in a session of its own; wait for it and for every
    process it started; return its result and peak RSS bytes."""
    out = os.path.join(cwd, f"result-{time.monotonic_ns()}.json")
    spawn = time.time()
    p = subprocess.Popen(
        [sys.executable, os.path.join(HERE, "worker.py"), *args,
         "--spawn-wall", repr(spawn), "--out", out],
        env=env, cwd=cwd, start_new_session=True, stdout=sys.stderr,
    )
    sampler = RssSampler(p.pid)
    sampler.start()
    try:
        code = p.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        code = None
    finally:
        sampler.stop()
        # the worker leaves its JVM (and that JVM's Python workers) running
        # once its result is written; stop its whole session and wait for it
        stop_session(p.pid)
        p.wait()
    print(f"perfbench: worker {' '.join(args[:6])} took "
          f"{time.time() - spawn:.1f}s", file=sys.stderr)
    if code != 0 or not os.path.exists(out):
        raise RuntimeError(f"worker {args[:2]} exited with {code}")
    with open(out) as f:
        return json.load(f), sampler.peak


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    # a terminated run still stops its worker (run_worker's finally)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(1))

    if not os.path.isdir(os.path.join(ROOT, "bigdata_googleplaystore_spark")):
        print("perfbench: engine package not found; run from the repository "
              "root", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    import workloads

    if a.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {a.workload}", file=sys.stderr)
        return 2
    w = workloads.WORKLOADS[a.workload]
    t0 = time.time()
    inputs, expected = workloads.make_inputs(
        w, os.path.join(WORK, "inputs", f"{w.name}-seed{a.seed}"), a.seed
    )
    print(f"perfbench: inputs took {time.time() - t0:.1f}s", file=sys.stderr)

    run_dir = os.path.join(WORK, f"run-{os.getpid()}-{time.monotonic_ns()}")
    os.makedirs(os.path.join(run_dir, "tmp"))
    spec = os.path.join(run_dir, "spec.json")
    with open(spec, "w") as f:
        json.dump({"inputs": inputs, "tables": list(w.tables),
                   "expected": expected}, f)
    env = dict(
        os.environ,
        SPARK_GRAFT_CPUS=str(cores()),
        SPARK_GRAFT_DRIVER_MEM="3g",
        SPARK_LOCAL_DIRS=os.path.join(run_dir, "spark-local"),
        TMPDIR=os.path.join(run_dir, "tmp"),
        JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={run_dir}/tmp -XX:-UsePerfData",
        PYTHONDONTWRITEBYTECODE="1",
        # the JVM's Python workers import the engine too (Python data
        # sources, UDFs)
        PYTHONPATH=os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
        ),
    )
    host0 = host_counters()
    try:
        full, peak_rss = run_worker(
            ["--workload", w.name, "--inputs", spec, "--work", run_dir,
             "--trace", str(a.trace), "--seconds", str(a.seconds)],
            env, run_dir, WORKER_TIMEOUT_S,
        )
    except RuntimeError as e:
        print(f"perfbench: {e}", file=sys.stderr)
        return 1
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    host1 = host_counters()
    host = {k: host1[k] - host0[k] for k in host0}

    info = {
        "workload": w.name, "seed": a.seed, "cpus": cores(),
        "master": f"local[{cores()}]",
        "samples": {"setup_s": 1, "job_cpu_s": 1, "pass_s": len(full["passes_s"])},
        "job_s": full["job_s"], "cold_pass_s": full["cold_pass_s"],
        "pass_s": full["pass_s"], "pass_curve_s": full["curve_s"],
        "cpu_curve_s": full["cpu_curve_s"],
        "op_s": full["op_s"], "cold_op_s": full["cold_op_s"], **host,
    }
    if a.trace:
        from layers import PER_LAYER

        layers = full["layers"]
        layers["session.get_spark_s"] = full["get_spark_s"]
        layers["process.peak_rss_mb"] = peak_rss / 1e6
        metrics = {k: {"value": layers[k], "unit": u} for k, u in PER_LAYER.items()}
        traces = os.path.join(WORK, "traces")
        os.makedirs(traces, exist_ok=True)
        side = os.path.join(traces, f"{w.name}-seed{a.seed}.json")
        with open(side, "w") as f:
            json.dump({**info, "layers": layers, "layer_samples": full["layer_samples"],
                       "spans": full["spans"]}, f)
        info["trace_file"] = os.path.relpath(side, ROOT)
    else:
        metrics = {
            "setup_s": {"value": full["setup_s"], "unit": "s"},
            "job_cpu_s": {"value": full["job_cpu_s"], "unit": "s"},
            "stored_mb": {"value": full["stored_mb"], "unit": "MB"},
        }
    print("# perfbench " + json.dumps(info))
    print(json.dumps({
        "correct": full["failed"] == 0,
        "attempted": full["attempted"],
        "failed": full["failed"],
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
