"""The one exploration loop over its two cell executors, without Spark.

A ``LiveSteeringSession`` whose planning (``hint_plans``) and hinted runs
(``run_steered``) are faked from a latency matrix, with one plan per value
of a row, must make exactly the decisions ``SimState`` makes on that
matrix: ``Strategy.run`` drives both."""

from __future__ import annotations

from collections import Counter

import numpy as np
import pytest

import limeqo_spark.live as live
from limeqo_spark.steer import SteeredRun
from limeqo_spark.strategies import LimeQOStrategy
from limeqo_spark.workload import Workload


def untimed(records: list[dict]) -> list[dict]:
    """Metric records without their wall-clock fields."""
    timing = ("training_time", "inference_time")
    return [{k: v for k, v in r.items() if k not in timing} for r in records]


def quantized(seed: int, n_rows: int = 4) -> np.ndarray:
    """A low-rank latency matrix rounded up to quarter seconds, so a row
    has fewer distinct values (plans) than hints."""
    m = Workload.synthetic_low_rank(n_rows=n_rows, n_cols=49, seed=seed).matrix
    return np.ceil(m * 4) / 4


class FakeSpark:
    """Planning and hinted runs answered from ``m``: query ``qi``'s frame is
    ``qi``, its plan under hint ``j`` is named by ``m[qi, j]``, and a run
    takes ``m[qi, j]`` seconds, censored at the timeout when it is not
    shorter."""

    def __init__(self, m: np.ndarray, monkeypatch) -> None:
        self.m = m
        self.runs: list[tuple[int, int, float | None]] = []
        monkeypatch.setattr(live, "hint_plans", self.hint_plans)
        monkeypatch.setattr(live, "run_steered", self.run_steered)

    def hint_plans(self, spark, build, hint_sets):
        qi = build()
        texts = [f"Plan q{qi} latency {self.m[qi, hs.hint_id]!r}" for hs in hint_sets]
        return {hs.join_hint: qi for hs in hint_sets}, texts

    def run_steered(self, spark, qi, hint_set, timeout_s=None):
        self.runs.append((qi, hint_set.hint_id, timeout_s))
        v = float(self.m[qi, hint_set.hint_id])
        if timeout_s is not None and v >= timeout_s:
            return SteeredRun(hint_set.hint_id, None, float(timeout_s))
        return SteeredRun(hint_set.hint_id, v, None)

    def session(self, seed: int, rows: range | None = None) -> live.LiveSteeringSession:
        rows = rows if rows is not None else range(len(self.m))
        queries = {f"q{qi}": (lambda qi=qi: qi) for qi in rows}
        return live.LiveSteeringSession(None, queries, seed=seed, warmup=False)


@pytest.mark.parametrize("seed", range(1, 7))
def test_live_session_makes_the_simulators_decisions(seed, monkeypatch):
    m = quantized(seed)
    # simulator: hint 0's plan class is observed up front, as bootstrap's
    # run of hint 0 and its plan-mates leaves it live
    wl = Workload(m, (m == m[:, [0]]).astype(np.float64))
    sim = LimeQOStrategy(wl, k=4, seed=seed, max_rounds=12, slack=None)
    sim_runs = []
    reveal = sim.state.reveal_or_censor

    def logged(i, j, tol):
        sim_runs.append((i, j, float(tol) if np.isfinite(tol) else None))
        return reveal(i, j, tol)

    sim.state.reveal_or_censor = logged
    sim_records = sim.run()

    fake = FakeSpark(m, monkeypatch)
    s = fake.session(seed)
    s.bootstrap()
    assert fake.runs == [(qi, 0, None) for qi in range(len(m))]
    fake.runs.clear()
    live_records = s.explore(rounds=12, k=4)

    assert len(sim_runs) > 12, "the loop should run several cells a round"
    assert fake.runs == sim_runs
    np.testing.assert_array_equal(s.explored, sim.state.explored)
    np.testing.assert_array_equal(s.cutoffs, sim.state.cutoffs)
    np.testing.assert_array_equal(s.matrix, sim.state.matrix)
    assert untimed(live_records) == untimed(sim_records)
    logged_cells = Counter((o.query_id, o.hint_id) for o in s.observations)
    assert max(logged_cells.values()) == 1, "a cell was logged twice"


@pytest.mark.parametrize("model", ["als", "plan", "tcnn"])
def test_explore_after_add_queries(model, monkeypatch):
    """A query added after exploration joins the next explore, whose model
    is fitted over the grown matrix (the tree-CNN's query embedding
    included)."""
    fake = FakeSpark(quantized(3, n_rows=3), monkeypatch)
    s = fake.session(seed=3, rows=range(2))
    s.bootstrap()
    s.explore(rounds=2, k=2, model=model)
    s.add_queries({"q2": lambda: 2})
    s.bootstrap()
    records = s.explore(rounds=2, k=2, model=model)
    assert len(records) == 2
    assert records[-1]["explore_queries_cnt"] > records[0]["explore_queries_cnt"] > 0
    assert np.isfinite(s.min_observed()).all()


def test_explore_needs_bootstrap(monkeypatch):
    s = FakeSpark(quantized(1), monkeypatch).session(seed=1)
    with pytest.raises(RuntimeError, match="bootstrap"):
        s.explore(rounds=1)
