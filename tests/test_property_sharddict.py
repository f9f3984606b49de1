"""Property-based tests (hypothesis) for the vocabulary state machine —
the reference PositionAssignmentAggregate invariants must hold under
ANY interleaving of inserts and retractions, not just the golden traces.
Pure python (ShardDict), so these run in milliseconds."""

from __future__ import annotations

from hypothesis import given, settings
from hypothesis import strategies as st

from diffdataflowmlpipelines_spark.streaming.vocabulary import ShardDict

ops = st.lists(
    st.tuples(st.sampled_from([f"t{i}" for i in range(12)]), st.sampled_from([1, -1])),
    min_size=0,
    max_size=200,
)


@settings(max_examples=300, deadline=None)
@given(ops)
def test_sharddict_invariants(sequence):
    d = ShardDict()
    for tok, diff in sequence:
        d.update(tok, diff)

        # live indices are unique
        idxs = list(d.val_to_index.values())
        assert len(idxs) == len(set(idxs))
        # exactly the net-positive values hold an index
        for t, c in d.val_to_count.items():
            assert (c > 0) == (t in d.val_to_index)
        # free-list disjoint from live indices
        assert not (set(d.free) & set(idxs))
        # every live index fits the logical length after sizing
        assert d.live_count() <= d.length
        # indices (live + free) never exceed next_index
        assert all(i < d.next_index for i in idxs + d.free)


@settings(max_examples=200, deadline=None)
@given(ops)
def test_sharddict_counts_match_multiset(sequence):
    d = ShardDict()
    net: dict[str, int] = {}
    for tok, diff in sequence:
        d.update(tok, diff)
        net[tok] = net.get(tok, 0) + diff
    for tok, c in net.items():
        assert d.val_to_count[tok] == c


def test_rounding_matches_reference_half_away():
    # _round used in streaming/stats and incremental_transform:
    # reference Rust f64::round is half-away-from-zero
    from diffdataflowmlpipelines_spark.streaming.stats import _round_to

    assert _round_to(0.5, 0) == 1.0
    assert _round_to(-0.5, 0) == -1.0
    assert _round_to(2.5, 0) == 3.0
    assert _round_to(0.125, -2) == 0.13
    assert _round_to(-8.25, 0) == -8.0  # |−8.25| rounds to 8
