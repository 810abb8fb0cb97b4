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
    late instead of failing."""
    for r in eng.store.committed_rounds():
        assert eng._read_pending(r).count() == eng.store.meta(r)["pending"], r


@pytest.fixture
def assert_pending_counts():
    return _assert_pending_counts
