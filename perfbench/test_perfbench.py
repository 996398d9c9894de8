"""Tests of the benchmark itself (not of the engine).

    python3 -m pytest perfbench/test_perfbench.py -q

The Spark tests start one local[2] session and take a few minutes.
"""

from __future__ import annotations

import filecmp
import os
import sys

import pandas as pd
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
sys.path.insert(0, ROOT)

import check  # noqa: E402
import gen  # noqa: E402
import workloads  # noqa: E402


def test_inputs_repeat_for_a_seed(tmp_path):
    for d in ("a", "b"):
        gen.write_tables(str(tmp_path / d), 5, 0.001)
        gen.write_playstore(str(tmp_path / d / "ps"), 5)
    names = [f"{t}.parquet" for t in gen.TABLES] + [
        "ps/googleplaystore.csv", "ps/googleplaystore_user_reviews.csv"
    ]
    _, mismatch, errors = filecmp.cmpfiles(
        tmp_path / "a", tmp_path / "b", names, shallow=False
    )
    assert mismatch == [] and errors == []
    gen.write_tables(str(tmp_path / "c"), 6, 0.001)
    assert not filecmp.cmp(
        tmp_path / "a" / "orders.parquet", tmp_path / "c" / "orders.parquet",
        shallow=False,
    )


def test_a_table_does_not_depend_on_the_others_written(tmp_path):
    gen.write_tables(str(tmp_path / "all"), 5, 0.001)
    gen.write_tables(str(tmp_path / "one"), 5, 0.001, only=("orders",))
    assert os.listdir(tmp_path / "one") == ["orders.parquet"]
    assert filecmp.cmp(
        tmp_path / "all" / "orders.parquet", tmp_path / "one" / "orders.parquet",
        shallow=False,
    )


def test_playstore_csv_has_the_reference_shapes(tmp_path):
    play, reviews, truth = gen.write_playstore(str(tmp_path), 1)
    rows = gen._parse_csv(play)
    assert len(rows) == gen.PLAY_ROWS
    assert 9_600 <= truth["part3"]["rows"] <= 9_700
    with open(play, encoding="utf-8") as f:
        lines = f.read().splitlines()[1:]
    shifted = [r for r in rows if r[0] == "Life Made WI-Fi Touchscreen Photo Frame"]
    assert shifted[0][2] == "19" and shifted[0][12] is None  # one column left
    broken = [r for r in rows if r[0].startswith("Broken Quote")]
    assert len(broken) == 3 and all(r[1] == " navigation" for r in broken)
    assert any('""' in ln for ln in lines)  # doubled quotes
    assert any(r[2] == "NaN" for r in rows)
    assert truth["part1"]["rows"] == 1080


def test_planted_wrong_row_fails_the_frame_check():
    want = pd.DataFrame({"k": ["a", "b"], "n": [1, 2], "v": [1.5, 2.5]})
    assert check.frames_close(want.iloc[::-1].copy(), want, ["k"])
    planted = want.copy()
    planted.loc[1, "v"] = 2.6
    assert not check.frames_close(planted, want, ["k"])
    assert check.signature(planted) != check.signature(want)


# --------------------------------------------------------------------------
# Spark: one session for the rest of the module
# --------------------------------------------------------------------------


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    base = tmp_path_factory.mktemp("spark")
    os.environ.update(
        SPARK_GRAFT_CPUS="2",
        SPARK_GRAFT_DRIVER_MEM="3g",
        SPARK_LOCAL_DIRS=str(base),
        PYTHONPATH=os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
        ),
    )
    from bigdata_googleplaystore_spark.session import get_spark

    s = get_spark(app_name="perfbench-test")
    yield s
    s.stop()


def _prepared(name, root, seed=1):
    w = workloads.WORKLOADS[name]
    inputs, expected = workloads.make_inputs(w, str(root), seed)
    return w, inputs, workloads.load_expected(expected)


def test_planted_wrong_row_is_a_failed_operation(spark, tmp_path):
    from worker import Runner

    w, inputs, expected = _prepared("etl_small", tmp_path / "in")
    real = next(op for op in w.ops if op.name == "catalog.q3_shipping_priority")

    def plant(ctx):
        pdf = real.run(ctx)
        pdf.iloc[0, pdf.columns.get_loc("revenue")] += 0.01
        return pdf

    ops = [real, workloads.Op("catalog.planted", plant, real.check)]
    w = workloads.Workload("planted", w.sf, w.tables, ops, [], False, False, 1)
    r = Runner(spark, w, inputs, expected, str(tmp_path / "work"))
    r.run_pass()
    assert (r.attempted, r.failed) == (2, 1)


@pytest.mark.parametrize("name", ["etl_small", "llm_corpus"])
def test_traced_counts_repeat_exactly(spark, tmp_path, name):
    from layers import COUNTS, Tracer
    from worker import Runner

    w, inputs, expected = _prepared(name, tmp_path / "in")
    r = Runner(spark, w, inputs, expected, str(tmp_path / "work"), Tracer(spark))
    r.run_pass()  # cold
    a, b = r.run_pass(traced=True)["layers"], r.run_pass(traced=True)["layers"]
    assert r.failed == 0
    assert {k: a[k] for k in COUNTS} == {k: b[k] for k in COUNTS}
    assert a["operators.jobs"] > 0 and a["operators.stages"] > 0
    # the split of op wall time into scheduling and stage-busy time
    # accounts for the whole traced pass
    assert a["operators.plan_sched_s"] > 0 and a["operators.stage_busy_s"] > 0
    if w.lakehouse:
        assert a["manifest.commits"] == check.VERSIONS
        assert a["cdf.rows"] > 0
    else:
        assert a["functions.python_rows"] > 0
