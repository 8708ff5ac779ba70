"""Seeded generators: the same seed gives identical inputs, another seed
different ones.  Also pins the tail-percentile rule of the runner.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import os
import sys

import pandas as pd
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import gen  # noqa: E402
from run import tail  # noqa: E402
from workloads import levelled  # noqa: E402


def _tables(seed):
    return (gen.make_table(seed, gen.DASHBOARD_TABLE),
            gen.make_table(seed, gen.ANALYTICS_TABLE))


def _streams(seed):
    dash, ana = _tables(seed)
    return (gen.dashboard_requests(seed, dash, 200),
            gen.analytics_requests(seed, ana, 3))


def _batches_equal(a, b):
    return all(x.chunks == y.chunks and x.lo_ns == y.lo_ns and x.sent == y.sent
               and x.late == y.late and x.accepted.equals(y.accepted)
               for x, y in zip(a, b))


def test_same_seed_same_inputs():
    for a, b in zip(_tables(7), _tables(7)):
        pd.testing.assert_frame_equal(a.frame, b.frame)
    assert _streams(7) == _streams(7)
    assert _batches_equal([gen.ingest_batch(7, b) for b in range(4)], [gen.ingest_batch(7, b) for b in range(4)])


def test_other_seed_other_inputs():
    for a, b in zip(_tables(7), _tables(8)):
        assert not a.frame.equals(b.frame)
    s7, s8 = _streams(7), _streams(8)
    assert s7[0] != s8[0] and s7[1] != s8[1]
    assert not _batches_equal([gen.ingest_batch(7, b) for b in range(4)], [gen.ingest_batch(8, b) for b in range(4)])


def test_warm_up_stream_is_independent():
    dash = gen.make_table(7, gen.DASHBOARD_TABLE)
    assert gen.dashboard_requests(7, dash, 50, 0) != gen.dashboard_requests(7, dash, 50, 1)


def test_sizes_and_mix():
    dash, ana = _tables(1)
    assert len(dash.frame) == gen.DASHBOARD_TABLE.samples
    assert gen.ANALYTICS_TABLE.samples >= 10 * gen.DASHBOARD_TABLE.samples
    reqs = gen.dashboard_requests(1, dash, 200)
    assert sum(r.call != "query" for r in reqs) == 20   # 10%
    batches = [gen.ingest_batch(1, b) for b in range(3)]
    assert batches[0].late == 0
    for b in batches[1:]:
        assert 0.01 < b.late / b.sent < 0.03
        assert len(b.accepted) + b.late == b.sent


@pytest.mark.parametrize("n, pct", [(5, 50.0), (19, 50.0), (40, 75.0),
                                    (100, 90.0), (1000, 99.0)])
def test_tail_keeps_ten_samples_beyond(n, pct):
    p, value = tail([float(i) for i in range(n)])
    assert p == pct
    assert sum(v > value for v in range(n)) >= 10 or p == 50.0


def test_levelled():
    assert not levelled([5, 4, 3, 2], 2)
    assert levelled([5, 5, 4.8, 4.9], 2)
