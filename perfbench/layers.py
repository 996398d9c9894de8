"""Per-layer tracing for the traced run.

Spans are recorded in memory around every operation and every phase of
it (`build`, `action`). Each phase runs under its own Spark job group;
after a pass, the jobs, stages and SQL plan-node metrics of those groups
are read from the driver's status REST API (stdlib `urllib`, localhost)
and attached to the spans as child spans. The engine itself is not
touched.
"""

from __future__ import annotations

import contextlib
import datetime as dt
import json
import re
import statistics
import time
import urllib.request

# Every per-layer metric, in the order BENCHMARK.json lists them.
PER_LAYER = {
    "session.get_spark_s": "s",
    "process.peak_rss_mb": "MB",
    "catalog.build_s": "s",
    "catalog.build_jobs": "count",
    "operators.jobs": "count",
    "operators.stages": "count",
    "operators.tasks": "count",
    "operators.plan_sched_s": "s",
    "operators.stage_busy_s": "s",
    "operators.task_cpu_s": "s",
    "operators.gc_s": "s",
    "operators.shuffle_write_mb": "MB",
    "operators.shuffle_read_mb": "MB",
    "operators.spill_mb": "MB",
    "operators.task_skew": "ratio",
    "sources.scan_rows": "count",
    "sources.scan_mb": "MB",
    "sources.rows_per_result_row": "ratio",
    "functions.python_rows": "count",
    "functions.python_mb_sent": "MB",
    "functions.python_mb_recv": "MB",
    "playstore.read_s": "s",
    "playstore.part1_s": "s",
    "playstore.part2_s": "s",
    "playstore.part3_s": "s",
    "playstore.part4_s": "s",
    "playstore.part5_s": "s",
    "playstore.out_mb": "MB",
    "manifest.commit_s": "s",
    "manifest.commits": "count",
    "manifest.files_written": "count",
    "manifest.write_amp": "ratio",
    "manifest.read_s": "s",
    "manifest.batches_scanned_ratio": "ratio",
    "cdf.drain_s": "s",
    "cdf.rows": "count",
    "trace.overhead_pct": "%",
}

# Metrics that must repeat exactly between passes over the same inputs.
COUNTS = [k for k, unit in PER_LAYER.items() if unit == "count"] + [
    "manifest.write_amp", "manifest.batches_scanned_ratio",
]

# Op wall time -> per-layer metric.
OP_METRICS = {
    "playstore.read": "playstore.read_s",
    "playstore.part1": "playstore.part1_s",
    "playstore.part2": "playstore.part2_s",
    "playstore.part3": "playstore.part3_s",
    "playstore.part4": "playstore.part4_s",
    "playstore.part5": "playstore.part5_s",
    "manifest.write": "manifest.commit_s",
    "manifest.read": "manifest.read_s",
    "cdf.drain": "cdf.drain_s",
}

_UNITS = {
    "B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40,
    "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0, "ns": 1e-9,
}


def metric_value(text: str) -> float:
    """Parse a SQL UI metric: '60,000', '1015.0 KiB', '362 ms', or the
    multi-task form 'total (min, med, max ...)\\n1.2 MiB (...)'."""
    if "\n" in text:
        text = text.split("\n", 1)[1]
    m = re.match(r"\s*([\d,.]+)\s*([A-Za-z]+)?", text)
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNITS.get(m.group(2) or "", 1.0)


def _ts(s: str | None) -> float | None:
    if not s:
        return None
    return dt.datetime.strptime(s, "%Y-%m-%dT%H:%M:%S.%fGMT").replace(
        tzinfo=dt.timezone.utc
    ).timestamp()


def _union(intervals: list[tuple[float, float]]) -> float:
    total, end = 0.0, float("-inf")
    for a, b in sorted(intervals):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


class Tracer:
    """Spans and Spark-side metrics of traced passes."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        port = self.sc.uiWebUrl.rsplit(":", 1)[1]
        self.base = (
            f"http://127.0.0.1:{port}/api/v1/applications/{self.sc.applicationId}"
        )
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._pass = -1
        self._op = ""

    # -- spans ---------------------------------------------------------

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        sid = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        rec = {"id": sid, "name": name, "parent": parent,
               "start": time.time(), "end": None, **attrs}
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.time()

    @contextlib.contextmanager
    def pass_span(self, index: int):
        self._pass = index
        with self.span(f"pass.{index}", kind="pass", pass_index=index):
            yield

    @contextlib.contextmanager
    def op_span(self, op: str):
        self._op = op
        with self.span(op, kind="op", pass_index=self._pass):
            yield

    @contextlib.contextmanager
    def phase(self, name: str):
        """Run one phase of the current op under its own job group."""
        group = f"pb/{self._pass}/{self._op}/{name}"
        self.sc.setJobGroup(group, group)
        try:
            with self.span(f"{self._op}.{name}", kind="phase",
                           pass_index=self._pass, op=self._op, group=group):
                yield
        finally:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)

    # -- Spark status API ----------------------------------------------

    def _get(self, path: str):
        with urllib.request.urlopen(self.base + path, timeout=30) as r:
            return json.load(r)

    def collect(self, index: int, results_rows: int, op_stats: dict) -> dict:
        """Per-layer metrics of traced pass `index`; attaches its Spark
        jobs and stages to the span tree as child spans."""
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()
        spans = [s for s in self.spans if s.get("pass_index") == index]
        ops = [s for s in spans if s["kind"] == "op"]
        phases = {s["group"]: s for s in spans if s["kind"] == "phase"}
        lo = min(s["start"] for s in ops)
        hi = max(s["end"] for s in ops)

        jobs = [j for j in self._get("/jobs") if j.get("submissionTime")]
        mine: dict[int, dict] = {}  # jobId -> owning phase or op span
        for j in jobs:
            t = _ts(j["submissionTime"])
            g = j.get("jobGroup")
            if g in phases:
                mine[j["jobId"]] = phases[g]
            elif not (g or "").startswith("pb/") and lo <= t <= hi:
                # jobs the engine starts on threads of its own belong to
                # the op running then
                owner = next((o for o in ops if o["start"] <= t <= o["end"]), None)
                if owner is not None:
                    mine[j["jobId"]] = owner
        stage_owner = {
            sid: mine[j["jobId"]] for j in jobs if j["jobId"] in mine
            for sid in j["stageIds"]
        }
        stages = [
            s for s in self._get("/stages?status=complete")
            if s["stageId"] in stage_owner
        ]

        m = dict.fromkeys(PER_LAYER, 0.0)
        for j in jobs:
            if j["jobId"] in mine:
                owner = mine[j["jobId"]]
                self.spans.append({
                    "id": len(self.spans), "name": f"job.{j['jobId']}",
                    "parent": owner["id"], "kind": "job",
                    "start": _ts(j["submissionTime"]),
                    "end": _ts(j.get("completionTime")),
                    "stages": j["stageIds"], "pass_index": index,
                })
                m["operators.jobs"] += 1
                if owner.get("op", "").startswith("catalog.") and owner[
                    "name"
                ].endswith(".build"):
                    m["catalog.build_jobs"] += 1
        busy: dict[int, list] = {}
        skew = 1.0
        for s in stages:
            owner = stage_owner[s["stageId"]]
            start = _ts(s.get("firstTaskLaunchedTime") or s["submissionTime"])
            end = _ts(s["completionTime"])
            self.spans.append({
                "id": len(self.spans), "name": f"stage.{s['stageId']}",
                "parent": owner["id"], "kind": "stage", "start": start,
                "end": end, "tasks": s["numTasks"], "pass_index": index,
            })
            op_id = owner["parent"] if owner["kind"] == "phase" else owner["id"]
            busy.setdefault(op_id, []).append((start, end))
            m["operators.stages"] += 1
            m["operators.tasks"] += s["numTasks"]
            m["operators.task_cpu_s"] += s["executorCpuTime"] / 1e9
            m["operators.gc_s"] += s["jvmGcTime"] / 1e3
            m["operators.shuffle_write_mb"] += s["shuffleWriteBytes"] / 1e6
            m["operators.shuffle_read_mb"] += s["shuffleReadBytes"] / 1e6
            m["operators.spill_mb"] += s["diskBytesSpilled"] / 1e6
            if s["shuffleReadBytes"] > 0 and s["numTasks"] >= 2:
                q = self._get(
                    f"/stages/{s['stageId']}/{s['attemptId']}/taskSummary"
                    "?quantiles=0.5,1.0"
                )["executorRunTime"]
                skew = max(skew, q[1] / max(q[0], 1.0))
        m["operators.task_skew"] = skew
        for o in ops:
            wall = o["end"] - o["start"]
            stage_time = _union([
                (max(a, o["start"]), min(b, o["end"]))
                for a, b in busy.get(o["id"], []) if b > o["start"] and a < o["end"]
            ])
            m["operators.stage_busy_s"] += stage_time
            m["operators.plan_sched_s"] += wall - stage_time
            if o["name"].startswith("catalog."):
                m["catalog.build_s"] += sum(
                    s["end"] - s["start"] for s in spans
                    if s["parent"] == o["id"] and s["name"].endswith(".build")
                )
            if o["name"] in OP_METRICS:
                m[OP_METRICS[o["name"]]] += wall

        for ex in self._get("/sql?details=true&planDescription=false&length=100000"):
            if not set(ex["successJobIds"]) & mine.keys():
                continue
            for node in ex["nodes"]:
                vals = {x["name"]: metric_value(x["value"]) for x in node["metrics"]}
                name = node["nodeName"]
                if name.startswith("Scan") or name.startswith("BatchScan"):
                    m["sources.scan_rows"] += vals.get("number of output rows", 0)
                    m["sources.scan_mb"] += vals.get("size of files read", 0) / 1e6
                if "data sent to Python workers" in vals:
                    m["functions.python_rows"] += vals.get("number of output rows", 0)
                    m["functions.python_mb_sent"] += (
                        vals["data sent to Python workers"] / 1e6
                    )
                    m["functions.python_mb_recv"] += (
                        vals.get("data returned from Python workers", 0) / 1e6
                    )
        m["sources.rows_per_result_row"] = m["sources.scan_rows"] / max(results_rows, 1)
        m.update(op_stats)
        return m


def median_metrics(samples: list[dict]) -> dict:
    return {k: statistics.median(s[k] for s in samples) for k in samples[0]}
