"""Generate PLANS.md: the physical-plan posture of every bench-headline
query, as a reviewable artifact.

For each query: scans with pushed filters + read schema (pushdown/pruning
evidence), join strategies, shuffle-exchange count, codegen stage count.
Run after plan-affecting changes; diff in review catches regressions the
way tests/test_plans.py catches the pinned subset.
"""

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import SparkSession  # noqa: E402

from bigdata_googleplaystore_spark import plans  # noqa: E402
from bigdata_googleplaystore_spark.catalog import QUERIES  # noqa: E402

SF = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")

# Per-query reading notes: printed under the query's heading so a raw
# static-plan artifact (duplicated subtrees, scan multiplicity) is not
# misread as the executed shape. Keep these tied to test assertions.
NOTES: dict[str, str] = {
    "graph_triangle_count": (
        "static plan re-derives the shared und/oriented subtrees per "
        "consumer (hence the scan multiplicity above); every duplicate "
        "sits over an identical shuffle and AQE exchange reuse dedups "
        "them at runtime (reused count above; asserted >= 6 in "
        "test_plans.py). Deliberately NOT persist()ed — measured slower "
        "(operator docstring). Nested-loop joins are only the final "
        "three 1-row count crossJoins."
    ),
    "sim_cosine_topk": (
        "the nested-loop joins are the documented broadcast-query exact "
        "baseline (10 query rows x corpus); the registered scale path "
        "is the ANN family (LSH/IVF/PQ)."
    ),
    "cdf_feed_drain": (
        "the timed work is the STREAMING drain inside the bench fn (a "
        "9-version manifest_cdf_stream replay into a noop sink); the "
        "1-row status frame analyzed here is just the harness handle. "
        "Plan posture lives in the connector, not Catalyst: planning is "
        "metadata-only (two manifest JSONs per step, memoized key "
        "frames), versions 0-7 read arrow-to-arrow on the unmasked "
        "insert hot path, version 8's delete partitions semi-join each "
        "file against the kilobyte key frame executor-side "
        "(sources/manifest_cdf_stream.py; size-guarded at 64 MiB "
        "cumulative key bytes per plan)."
    ),
    "scd2_dimension_maintenance": (
        "the timed work is the paired-feed replay + interval build "
        "inside the bench fn (9-version keyColumns drain off the "
        "pre-built upsert table -> parquet log -> ONE window shuffle "
        "by key -> interval aggregate, materialized to noop in-fn); "
        "the 1-row status frame analyzed here is the harness handle. "
        "The feed ships O(changed rows) per version — the 100 TB "
        "alternative diffs full snapshots, O(table) per version."
    ),
    "dedup_ngram_jaccard": (
        "r12 flagged a +15-25% drift vs r11 (1.69 -> 1.94-2.12 s). "
        "Bisected r13: the one-shot path is UNCHANGED since r09 "
        "(commit bee41cc; the r10-r12 incremental-index work never "
        "touched jaccard_pairs' staging), and an idle-host min-of-5 "
        "converges to 1.60 s — better than r11. The r12 numbers were "
        "host drift (driver canary ratio 1.49 that round). Regression "
        "NOT real; no code change."
    ),
    "incremental_join_view_maintenance": (
        "the delta-rule IVM shape: the three delta terms are "
        "BroadcastHashJoins (batch side broadcast, history only ever the "
        "map-side probe); the only hash-shuffle exchanges carry "
        "batch-bounded partial-aggregate rows and the |keys|-sized state "
        "fold — never a base table (cf. COVERAGE.md: the "
        "large-large recompute shuffles both full tables)."
    ),
}

# (r13: dedup_exact_substring now returns its lazy plan unconditionally,
# so the former SPARK_GRAFT_KEEP_LAZY flag is gone — the audit always
# sees the real scans/joins.)


def main() -> None:
    spark = (
        SparkSession.builder.master("local[8]")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.sql.session.timeZone", "UTC")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    from bench import EXTRA_BENCH

    fns = {n: QUERIES[n].fn for n, qd in QUERIES.items() if "bench" in qd.tags}
    # bench.py's non-registry workloads (bpe_train_corpus) are part of the
    # headline set and get the same plan evidence
    fns.update(EXTRA_BENCH)
    lines = [
        "# PLANS — physical-plan posture of the bench headline set",
        "",
        f"Generated by `python tools/plan_audit.py` at sf dir `{SF}`.",
        "Static plan joined with the AQE-final executed plan (codegen spans,",
        "exchange reuse); per-scan pushdown + projection. Regenerate after plan-affecting",
        "changes and diff.",
        "",
    ]
    for name, fn in fns.items():
        r = plans.analyze(fn(spark, SF), execute=True)
        lines.append(f"## {name}")
        lines.append("")
        lines.append(
            f"- joins: {r.broadcast_joins} broadcast-hash, "
            f"{r.sort_merge_joins} sort-merge, {r.nested_loop_joins} nested-loop"
        )
        lines.append(
            f"- shuffles: {r.exchanges} exchanges "
            f"({r.reused_exchanges} reused), {r.codegen_stages} codegen stages"
        )
        for s in r.scans:
            table = s.location.rsplit("/", 1)[-1] if s.location else "?"
            cols = ",".join(s.read_columns) or "(all)"
            pushed = "; ".join(s.pushed_filters) or "none"
            lines.append(f"- scan `{table}` reads [{cols}] pushed: {pushed}")
        if name in NOTES:
            lines.append(f"- note: {NOTES[name]}")
        lines.append("")
    # Large-large regime (VERDICT r04 item 5): at bench SFs every join
    # broadcasts because the dim sides fit the 10 MB threshold; a
    # 1000-executor cluster joining 100 TB facts exceeds it on BOTH
    # sides and must fall back to SortMergeJoin. Disabling broadcast
    # shows that fallback plan — the assertion-backed twin lives in
    # tests/test_plans.py::test_large_large_joins_sort_merge_with_pushdown_when_no_broadcast.
    lines.append("## Large-large regime (autoBroadcastJoinThreshold=-1)")
    lines.append("")
    lines.append(
        "With broadcast disabled — the physical regime a 1000-executor "
        "cluster actually runs for fact-fact joins — the same declarative "
        "plans flip to SortMergeJoin while pushdown/pruning hold, and AQE "
        "skew-join splitting (on session-wide) handles skewed keys at "
        "runtime:"
    )
    lines.append("")
    for k in (
        "spark.sql.autoBroadcastJoinThreshold",
        "spark.sql.adaptive.autoBroadcastJoinThreshold",
    ):
        spark.conf.set(k, "-1")
    try:
        for name in ("q3_shipping_priority", "q18_large_orders"):
            r = plans.analyze(QUERIES[name].fn(spark, SF), execute=True)
            lines.append(f"### {name} (no broadcast)")
            lines.append("")
            lines.append(
                f"- joins: {r.broadcast_joins} broadcast-hash, "
                f"{r.sort_merge_joins} sort-merge, "
                f"{r.nested_loop_joins} nested-loop"
            )
            for s in r.scans:
                table = s.location.rsplit("/", 1)[-1] if s.location else "?"
                cols = ",".join(s.read_columns) or "(all)"
                pushed = "; ".join(s.pushed_filters) or "none"
                lines.append(f"- scan `{table}` reads [{cols}] pushed: {pushed}")
            lines.append("")
    finally:
        for k in (
            "spark.sql.autoBroadcastJoinThreshold",
            "spark.sql.adaptive.autoBroadcastJoinThreshold",
        ):
            spark.conf.unset(k)
    # Bench-row stability notes (rows without a Catalyst plan heading)
    lines.append("## Bench-row stability notes")
    lines.append("")
    lines.append(
        "- `playstore_parts_2_3_4_5` bimodality (r12 verdict item 2, "
        "DIAGNOSED r13): the row flipped between ~1.9 s and ~3.7 s "
        "across bench invocations because this pipeline's unique plans "
        "can't share the sf0.001 warmup loop, and under host load "
        "(r12 canary ratio 1.49) background JIT compilation from the "
        "first pass bled into all three min-of-3 runs. Fix: bench.py "
        "now runs one UNTIMED warmup pass of the pipeline before the "
        "timed min-of-3 — the same treatment every headline query "
        "gets. Measured after the fix: consecutive full-bench runs "
        "2.34/2.01 s (within 15%); idle-host min-of-5 settles at "
        "2.17-2.24 s, which is the row's true steady state (r11's "
        "1.86 s was a favorable host moment)."
    )
    lines.append("")
    out = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "PLANS.md")
    with open(out, "w") as f:
        f.write("\n".join(lines) + "\n")
    print(f"wrote {out}: {len(fns)} queries")
    spark.stop()


if __name__ == "__main__":
    main()
