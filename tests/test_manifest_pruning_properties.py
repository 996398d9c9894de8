"""Property tests for the manifest layer's PURE planning functions —
the data-skipping decisions that must never lose rows. No Spark
session needed: prune_snapshot_batches and delete_groups are pure
functions of the manifest dict, so hypothesis can hammer them."""

from __future__ import annotations

from hypothesis import given, settings
from hypothesis import strategies as st

from bigdata_googleplaystore_spark.sources import manifest_log
from bigdata_googleplaystore_spark.streaming import manifest

# a manifest with int zone-map stats on column "c"; some batches
# deliberately stat-less
_batches = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=40),  # batch id
        st.one_of(
            st.none(),
            st.tuples(
                st.integers(-1000, 1000), st.integers(-1000, 1000)
            ).map(lambda t: [min(t), max(t)]),
        ),
    ),
    min_size=1,
    max_size=12,
    unique_by=lambda t: t[0],
)


@given(
    batches=_batches,
    lo=st.integers(-1500, 1500),
    span=st.integers(0, 800),
)
@settings(max_examples=300, deadline=None)
def test_zone_prune_is_sound_and_tight(batches, lo, span):
    hi = lo + span
    m = {
        "batch_ids": sorted(b for b, _ in batches),
        "stats": {
            str(b): {"c": bounds} for b, bounds in batches if bounds is not None
        },
    }
    kept = set(manifest.prune_snapshot_batches(m, "c", lo, hi))
    for b, bounds in batches:
        if bounds is None:
            # SOUNDNESS: no stats -> always kept (skipping never filters)
            assert b in kept
        else:
            overlaps = not (bounds[1] < lo or bounds[0] > hi)
            # SOUNDNESS: every possibly-overlapping batch is kept;
            # TIGHTNESS: every provably-disjoint batch is skipped
            assert (b in kept) == overlaps


@given(
    batches=_batches,
    probe=st.integers(-1500, 1500),
)
@settings(max_examples=300, deadline=None)
def test_zone_prune_point_query_never_loses_the_containing_batch(batches, probe):
    m = {
        "batch_ids": sorted(b for b, _ in batches),
        "stats": {
            str(b): {"c": bounds} for b, bounds in batches if bounds is not None
        },
    }
    kept = set(manifest.prune_snapshot_batches(m, "c", probe, probe))
    for b, bounds in batches:
        if bounds is None or bounds[0] <= probe <= bounds[1]:
            assert b in kept


@given(
    dids=st.lists(st.integers(0, 30), min_size=0, max_size=8, unique=True),
    cutoffs=st.dictionaries(
        st.integers(0, 30), st.one_of(st.none(), st.integers(0, 20)), max_size=8
    ),
)
@settings(max_examples=200, deadline=None)
def test_delete_groups_partition_exactly(dids, cutoffs):
    m = {
        "delete_ids": sorted(dids),
        "delete_cutoffs": {str(k): v for k, v in cutoffs.items()},
    }
    groups = manifest_log.delete_groups(m)
    flat = [d for _, ds in groups for d in ds]
    # every delete appears exactly once, grouped under its own cutoff
    assert sorted(flat) == sorted(dids)
    for cutoff, ds in groups:
        for d in ds:
            assert cutoffs.get(d) == cutoff


def test_effective_seq_round_trips_compact_base_ids():
    from bigdata_googleplaystore_spark import streaming

    for upto in range(0, 100):
        base = streaming.compact_base_id(upto)
        assert base < 0
        assert manifest_log.effective_seq(base) == upto
    for b in range(0, 100):
        assert manifest_log.effective_seq(b) == b
