"""bench.py's round-stamp rule, without Spark.

``round_stamp_refusal`` decides whether a run may write the round-keyed
BENCH_FULL_r{N}.json: only at the canonical SF and core count, only
while the round is open and not yet stamped, and only when the pinned
gauge is within PINNED_GAUGE_BOUND (or unknown because there is no prior
artifact at this SF). The table below holds the gauge-band cases; the
closed-round, first-stamp-is-final and canonical-scale cases are in
test_cache_lifecycle.py. The replay test checks the rule against the
committed artifacts and the hot r11 and r12 readings README records.
"""

from __future__ import annotations

import importlib.util
import json
import os

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


@pytest.fixture(scope="module")
def bench():
    spec = importlib.util.spec_from_file_location(
        "bench_stamp_mod", os.path.join(REPO, "bench.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


SF, CPUS = 0.1, "32"

# (why, sf, cpus, round_closed, artifact_exists, has_prior, gauge, stamps,
#  a word the refusal must contain)
TABLE = [
    ("quiet box, open round", SF, CPUS, False, False, True, 1.043, True, None),
    ("gauge at the bound is quiet", SF, CPUS, False, False, True, 1.15, True, None),
    ("fast box (one-sided band)", SF, CPUS, False, False, True, 0.85, True, None),
    ("unknown gauge, no prior artifact", SF, CPUS, False, False, False, None, True, None),
    ("unknown gauge against a prior", SF, CPUS, False, False, True, None, False, "sentinels"),
    ("gauge just over the bound", SF, CPUS, False, False, True, 1.16, False, "hot"),
    ("old skew bound", SF, CPUS, False, False, True, 1.3, False, "hot"),
    ("skewed box", SF, CPUS, False, False, True, 1.5, False, "hot"),
]


def test_round_stamp_decision_table(bench):
    assert bench.CANONICAL_BENCH_SF == SF
    assert str(bench.CANONICAL_BENCH_CPUS) == CPUS
    assert bench.PINNED_GAUGE_BOUND == 1.15
    for why, sf, cpus, closed, exists, prior, gauge, stamps, word in TABLE:
        refusal = bench.round_stamp_refusal(
            sf,
            cpus,
            round_closed=closed,
            artifact_exists=exists,
            has_prior=prior,
            pinned_gauge=gauge,
        )
        if stamps:
            assert refusal is None, f"{why}: refused ({refusal})"
        else:
            assert refusal and word in refusal, f"{why}: {refusal!r}"


def test_committed_stamps_replay_and_hot_readings_refuse(bench):
    """Not a loosening. Every committed round stamp that carries a
    pinned gauge (r10-r13) is one the rule writes on an open round, and
    the hot readings README records are refused: r11's re-stamps at
    1.39-1.51 and r12's attempts at 1.40, 1.55, 1.50, then 1.248 (later
    superseded). The old 1.3 skew bound let 1.248 through."""
    gauges = {}
    for rnd in (10, 11, 12, 13):
        with open(os.path.join(REPO, f"BENCH_FULL_r{rnd}.json")) as f:
            stamp = json.load(f)
        assert stamp["sf"] == bench.CANONICAL_BENCH_SF
        assert stamp.get("cpus", bench.CANONICAL_BENCH_CPUS) == 32
        assert not stamp.get("forced_stamp")
        gauges[rnd] = stamp["pinned_ratio_vs_prev"]
        assert bench.round_stamp_refusal(
            stamp["sf"],
            CPUS,
            round_closed=False,
            artifact_exists=False,
            has_prior=True,
            pinned_gauge=gauges[rnd],
        ) is None, f"r{rnd} gauge {gauges[rnd]}"
    assert gauges == {10: 0.7574, 11: 1.043, 12: 1.1236, 13: 1.0578}
    for hot in (1.39, 1.51, 1.40, 1.55, 1.50, 1.248):
        refusal = bench.round_stamp_refusal(
            SF,
            CPUS,
            round_closed=False,
            artifact_exists=False,
            has_prior=True,
            pinned_gauge=hot,
        )
        assert refusal and "hot" in refusal, hot
