"""Property-based tests (hypothesis) for the dirty-value coercers:
the FIXTURES.md quirk classes define the input space; the properties
assert the coercers never raise under ANSI and agree with a Python
reference implementation on every generated value."""

from __future__ import annotations

import math

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from _markers import HEAVY
from bigdata_googleplaystore_spark import playstore

# FIXTURES.md §1 dirty classes, plus clean values.
_SIZE = st.one_of(
    st.from_regex(r"[0-9]{1,4}(\.[0-9])?M", fullmatch=True),
    st.from_regex(r"[0-9]{1,4}(\.[0-9])?k", fullmatch=True),  # lowercase: dead branch
    st.from_regex(r"[0-9]{1,4}(\.[0-9])?K", fullmatch=True),
    st.just("Varies with device"),
    st.just("1,000+"),
    st.text(max_size=12),
)
_PRICE = st.one_of(
    st.just("0"),
    st.from_regex(r"\$[0-9]{1,3}(\.[0-9]{2})?", fullmatch=True),
    st.just("Everyone"),
    st.text(max_size=10),
)
_RATING = st.one_of(
    st.from_regex(r"[0-9](\.[0-9])?", fullmatch=True),
    st.just("NaN"),
    st.just("19"),
    st.just(" navigation"),
    st.text(max_size=10),
    st.none(),
)


def _ref_size(s):
    import re

    if s is None:
        return None
    if s.endswith("M"):
        m = re.match(r"^(\d+(?:\.\d+)?)M", s)
        return float(m.group(1)) if m else None
    if s.endswith("K"):
        m = re.match(r"^(\d+(?:\.\d+)?)K", s)
        return float(m.group(1)) / 1024.0 if m else None
    return None


def _ref_price(s):
    import re

    if s is None:
        return None
    if "$" in s:
        m = re.match(r"^\$(\d+(\.\d+)?)", s)
        if not m:
            return None
        v = float(m.group(1)) * 0.9
        # Spark F.round = HALF_UP on the decimal repr
        from decimal import ROUND_HALF_UP, Decimal

        return float(Decimal(repr(v)).quantize(Decimal("0.01"), ROUND_HALF_UP))
    try:
        return 0.0 if float(s) == 0 else None
    except ValueError:
        return None


def _run_column(spark, values, col_builder, out_type="double"):
    df = spark.createDataFrame([(v,) for v in values], "v string")
    return [
        r["out"]
        for r in df.select(col_builder(F.col("v")).cast(out_type).alias("out")).collect()
    ]


@HEAVY
@settings(max_examples=30, deadline=None, suppress_health_check=list(HealthCheck))
@given(st.lists(_SIZE, min_size=1, max_size=40))
def test_parse_size_matches_reference_impl(spark, sizes):
    got = _run_column(spark, sizes, playstore.parse_size_mb)
    want = [_ref_size(s) for s in sizes]
    assert got == pytest.approx(want)


@HEAVY
@settings(max_examples=30, deadline=None, suppress_health_check=list(HealthCheck))
@given(st.lists(_PRICE, min_size=1, max_size=40))
def test_parse_price_matches_reference_impl(spark, prices):
    got = _run_column(spark, prices, playstore.parse_price_eur)
    want = [_ref_price(p) for p in prices]
    assert got == pytest.approx(want)


@HEAVY
@settings(max_examples=30, deadline=None, suppress_health_check=list(HealthCheck))
@given(st.lists(_RATING, min_size=1, max_size=40))
def test_parse_rating_total_on_garbage(spark, ratings):
    """parse_rating never raises under ANSI and yields either a finite
    double or null — and NaN inputs specifically become null (then 0.0
    via the Part-3 fill, tested in the parity suite)."""
    got = _run_column(spark, ratings, playstore.parse_rating)
    for raw, out in zip(ratings, got):
        if raw == "NaN":
            assert out is None
        if out is not None:
            assert math.isfinite(out)


@HEAVY
@settings(max_examples=20, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    st.lists(
        st.one_of(
            st.just("January 7, 2018"),
            st.just("February 31, 2018"),  # regex passes, date invalid
            st.just("1.0.19"),
            st.just("Everyone"),
            st.text(max_size=20),
        ),
        min_size=1,
        max_size=30,
    )
)
def test_parse_last_updated_total(spark, dates):
    """Date parsing is total: parseable 'MMMM d, yyyy' -> date, everything
    else (including calendar-invalid like February 31 under the guard)
    -> null, never an ANSI exception."""
    df = spark.createDataFrame([(v,) for v in dates], "v string")
    rows = df.select(
        playstore.parse_last_updated(F.col("v")).alias("out")
    ).collect()
    parsed = [r["out"] for r in rows]
    for raw, out in zip(dates, parsed):
        if raw == "January 7, 2018":
            assert str(out) == "2018-01-07"
        if raw in ("1.0.19", "Everyone"):
            assert out is None


def test_coercers_on_canonical_dirty_values(spark):
    """Fast deterministic witness for the HEAVY-gated hypothesis
    batteries above, on fixed dirty values: sizes and prices equal the
    Python references; a NaN rating is null and every rating is finite
    or null; a valid date parses, and the calendar-invalid
    'February 31, 2018' and two non-dates are null."""
    sizes = ["19M", "3.5M", "201K", "1,000+", "Varies with device", "19k", ""]
    got = _run_column(spark, sizes, playstore.parse_size_mb)
    assert got == pytest.approx([_ref_size(s) for s in sizes])

    prices = ["0", "$4.99", "$0.99", "$399", "Everyone", "free", ""]
    got = _run_column(spark, prices, playstore.parse_price_eur)
    assert got == pytest.approx([_ref_price(p) for p in prices])

    ratings = ["4.5", "NaN", "19", " navigation", None, ""]
    got = _run_column(spark, ratings, playstore.parse_rating)
    assert got[1] is None  # NaN -> null
    assert all(o is None or math.isfinite(o) for o in got)

    dates = ["January 7, 2018", "February 31, 2018", "1.0.19", "Everyone"]
    df = spark.createDataFrame([(v,) for v in dates], "v string")
    out = [
        r["out"]
        for r in df.select(
            playstore.parse_last_updated(F.col("v")).alias("out")
        ).collect()
    ]
    assert str(out[0]) == "2018-01-07"
    assert out[1] is None
    assert out[2] is None and out[3] is None
