from __future__ import annotations

import pytest

from nightcrawlercmd_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app="ncs-tests", cpus=8, shuffle_partitions=8)
    yield s
    s.stop()


def _assert_pending_counts(eng) -> None:
    """Every committed round's arithmetic pending count (commit meta:
    previous - fetched + new) equals the assembled pending table. The
    arithmetic relies on fetch emitting one row per dequeued URL and on
    the in-round enqueue dedup; drift there would stop a crawl early or
    late instead of failing.

    Where the stored layout (compacted pending_b bases + unfolded
    deltas) differs from the initial one, its read also equals, as a
    multiset, pending derived from scratch: every seen delta ∖ every
    fetched page, with no base and every watermark at -1. The bases are
    only a cache of that derivation. The layout changes only on rounds
    whose compaction folded buckets, so the comparison runs on those
    (every base written is checked there) and on the last round."""
    initial = ({}, {b: -1 for b in range(eng._layout().pending_buckets)})
    rounds = eng.store.committed_rounds()
    prev = initial
    for r in rounds:
        meta = eng.store.meta(r)
        stored = eng._read_pending(r)
        assert stored.count() == meta["pending"], r
        state = eng._state_of(meta, "pending")[:2]
        if state != initial and (state != prev or r == rounds[-1]):
            derived = eng._assemble_pending(*initial, r)
            diff = stored.exceptAll(derived).unionByName(derived.exceptAll(stored))
            assert diff.isEmpty(), (r, diff.limit(5).collect())
        prev = state


@pytest.fixture
def assert_pending_counts():
    return _assert_pending_counts
