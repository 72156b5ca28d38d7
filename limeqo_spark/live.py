"""Live steering session: LimeQO over REAL hinted Spark executions.

This is the end-to-end slice (SURVEY §7): a set of queries x the HintSet
registry, explored by the simulator's loop (``strategies.Strategy.run``)
with the session as its cell executor, where "executing a cell" launches
the hinted query on the cluster with a wall-clock budget
(steer.run_steered) instead of a matrix lookup. Each query is built once
per join hint and planned once per HintSet (steer.hint_plans); a cell's
first run executes the physical plan that pass made, and its measured
latency is shared by every HintSet with the same physical plan.

State lives in a long-form observations table (Parquet-persistable via
``to_long_df``); the tiny Q x H mirror drives the models on the driver.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass, field

import numpy as np

from pyspark.sql import DataFrame, SparkSession

from limeqo_spark import hints as H
from limeqo_spark.plans import NODE_VOCABULARY, parse_formatted_tree, plan_hash, replanned
from limeqo_spark.steer import hint_plans, run_steered
from limeqo_spark.strategies import CellExecutor, LimeQOStrategy
from limeqo_spark.tcnn import collate_trees, flatten_tree


@dataclass
class LiveObservation:
    query_id: str
    hint_id: int
    latency: float | None  # None = censored
    censor_cutoff: float | None
    plan_hash: str
    measured: bool  # False = inherited from a plan-equivalent hint


@dataclass
class LiveSteeringSession(CellExecutor):
    spark: SparkSession
    queries: dict[str, Callable[[], DataFrame]]
    hint_sets: list[H.HintSet] = field(default_factory=lambda: list(H.REGISTRY))
    rank: int = 5
    iters: int = 50
    lam: float = 0.2
    seed: int = 0
    #: run each query's default plan once unmeasured before its measured
    #: bootstrap run: otherwise hint 0 is the only cold-cache measurement
    #: and every alternative looks spuriously fast against it
    warmup: bool = True
    #: median-of-N measurements per executed cell (reference A10 semantics:
    #: the training label is the median of repeated runs)
    repeats: int = 1

    def __post_init__(self) -> None:
        self.query_ids = list(self.queries)
        q, h = len(self.query_ids), len(self.hint_sets)
        self.matrix = np.full((q, h), np.nan)
        self.cutoffs = np.zeros((q, h))
        self.explored = np.zeros((q, h))
        self.observations: list[LiveObservation] = []
        #: exploration time charged by reveal_or_censor (bootstrap is free)
        self.spent = 0.0
        self.cells_explored = 0
        self._built: dict[int, dict[str | None, DataFrame]] = {}
        #: planned frame per (query, plan hash) of an unexplored plan class
        self._planned: dict[tuple[int, str], DataFrame] = {}
        self._plan_hashes: dict[tuple[int, int], str] = {}
        self._plan_texts: dict[tuple[int, int], str] = {}

    # --- state helpers ---
    @property
    def mask(self) -> np.ndarray:
        return (~np.isnan(self.matrix)).astype(np.float64)

    def _fingerprints(self, qi: int) -> dict[int, str]:
        """Plan hash per hint for one query (planning only, one build per
        join hint: steer.hint_plans). The built frames are kept, one planned
        frame per plan class with an unexplored cell (the first such cell's)
        for the class's run, and each cell's EXPLAIN text for :meth:`trees`,
        so a class's first run builds and plans nothing. A run explores its
        whole class (:meth:`execute_cell`), so the loop runs at most one
        cell per class."""
        if qi not in self._built:
            build = self.queries[self.query_ids[qi]]
            self._built[qi], planned, texts = hint_plans(self.spark, build, self.hint_sets)
            for hj, (df, text) in enumerate(zip(planned, texts)):
                fp = plan_hash(text)
                if self.explored[qi, hj] == 0:
                    self._planned.setdefault((qi, fp), df)
                self._plan_texts[(qi, hj)] = text
                self._plan_hashes[(qi, hj)] = fp
        return {hj: self._plan_hashes[(qi, hj)] for hj in range(len(self.hint_sets))}

    def frame(self, qi: int, hj: int) -> DataFrame:
        """This cell's frame to run. The first call on a cell of an
        unexplored plan class returns the frame the fingerprint pass
        planned for the class, which has this cell's physical plan; any
        other call a fresh copy of the built frame (``plans.replanned``),
        planned under the confs in effect when it is run or planned. A
        QueryExecution is executed at most once (steer.run_steered), and
        the session keeps planned frames for unexplored classes only."""
        self._fingerprints(qi)
        planned = self._planned.pop((qi, self._plan_hashes[(qi, hj)]), None)
        if planned is not None:
            return planned
        return replanned(self._built[qi][self.hint_sets[hj].join_hint])

    def _record(self, qi: int, hj: int, latency: float | None, cutoff: float | None, fp: str, measured: bool) -> None:
        self.explored[qi, hj] = 1
        # the loop runs no cell of an explored class: free the class's plan
        self._planned.pop((qi, self._plan_hashes.get((qi, hj))), None)
        if latency is not None:
            self.matrix[qi, hj] = latency
        elif cutoff is not None:
            self.cutoffs[qi, hj] = max(self.cutoffs[qi, hj], cutoff)
        self.observations.append(
            LiveObservation(self.query_ids[qi], hj, latency, cutoff, fp, measured)
        )

    def execute_cell(self, qi: int, hj: int, timeout_s: float | None) -> None:
        """Run one (query, hint) cell live; fan the result out to every
        plan-equivalent hint of that query (A15/A18: pay each plan once)."""
        runs = []
        for _ in range(max(1, self.repeats)):
            runs.append(run_steered(self.spark, self.frame(qi, hj), self.hint_sets[hj], timeout_s))
            if runs[-1].latency is None:  # censored: don't pay the budget again
                break
        run = runs[-1]
        # a cell is censored only if EVERY run timed out: a completed run
        # is a real observation, and recording "latency >= cutoff" after
        # having MEASURED a latency below the cutoff would be a provably
        # false bound that the censored-ALS repair pass then propagates
        # (review r8 — previously a timeout on any later repeat discarded
        # the earlier successful measurement)
        completed = [r.latency for r in runs if r.latency is not None]
        latency = float(np.median(completed)) if completed else None
        cutoff = None if completed else run.censor_cutoff
        fp = self._plan_hashes[(qi, hj)]
        self._record(qi, hj, latency, cutoff, fp, True)
        # inherited cells must carry the SAME median-of-N value as the
        # measured cell, not the last run's latency — otherwise a plan
        # equivalence class holds internally inconsistent observations
        for other_hj, other_fp in self._fingerprints(qi).items():
            if other_hj != hj and other_fp == fp and self.explored[qi, other_hj] == 0:
                self._record(qi, other_hj, latency, cutoff, fp, False)

    def add_queries(self, queries: dict[str, Callable[[], DataFrame]]) -> None:
        """Grow the workload mid-session — the live analog of the datashift
        experiment (new queries arrive after exploration started;
        reference `experiment/stack-datashift/`). New rows join with
        nothing observed; the next :meth:`bootstrap` measures their default
        plans, and the next :meth:`explore` fits its model over the grown
        matrix, extrapolating their unobserved cells from the hint factors
        the other rows' observations determine. Existing observations, plan
        caches, and explored flags are untouched (old row indices are
        stable)."""
        new = {k: v for k, v in queries.items() if k not in self.queries}
        if not new:
            return
        self.queries.update(new)
        self.query_ids.extend(new)
        h = len(self.hint_sets)
        grow = len(new)
        self.matrix = np.vstack([self.matrix, np.full((grow, h), np.nan)])
        self.cutoffs = np.vstack([self.cutoffs, np.zeros((grow, h))])
        self.explored = np.vstack([self.explored, np.zeros((grow, h))])

    # --- the loop ---
    def bootstrap(self, timeout_s: float | None = None) -> None:
        """Measure hint 0 (optimizer default) for every query — the always-
        observed default column (reference invariant: mask[:,0] == 1)."""
        for qi in range(len(self.query_ids)):
            if self.explored[qi, 0] == 0:
                if self.warmup:
                    # unmeasured priming run (same budget kill protection)
                    run_steered(self.spark, self.frame(qi, 0), self.hint_sets[0], timeout_s)
                self.execute_cell(qi, 0, timeout_s)

    def probe(self, timeout_s: float | None = None) -> list[LiveObservation]:
        """Measure every unexplored cell, in hint order, each distinct plan
        once: a measured cell's plan-equivalent hints inherit its value
        before their turn comes (A15/A18). Returns the observation log,
        which :meth:`save` persists for ``Workload.from_long_df``. Call
        :meth:`bootstrap` first for a warmed-up default column."""
        for qi in range(len(self.query_ids)):
            for hj in range(len(self.hint_sets)):
                if self.explored[qi, hj] == 0:
                    self.execute_cell(qi, hj, timeout_s)
        return self.observations

    def trees(self) -> tuple[tuple[np.ndarray, np.ndarray], np.ndarray]:
        """The cells' real EXPLAIN trees for the plan-based models (A22/A23
        on Spark plans): one flattened tree per distinct plan hash, stacked,
        and each cell's tree index. The fingerprint pass's cached EXPLAIN
        text is parsed, so nothing is planned again."""
        ids: dict[str, int] = {}
        flats = []
        tree_id = np.zeros(self.explored.shape, dtype=np.int64)
        d = len(NODE_VOCABULARY)
        for qi in range(len(self.query_ids)):
            for hj, fp in self._fingerprints(qi).items():
                if fp not in ids:
                    ids[fp] = len(flats)
                    tree = parse_formatted_tree(self._plan_texts[(qi, hj)])
                    flats.append(
                        flatten_tree(tree)
                        if tree is not None
                        else (np.zeros((2, d)), np.zeros((2, 2), dtype=np.int64))
                    )
                tree_id[qi, hj] = ids[fp]
        return collate_trees(flats), tree_id

    def reveal_or_censor(self, i: int, j: int, tolerance: float) -> bool:
        """The exploration loop's cell step: run the cell live
        (:meth:`execute_cell`, timeout ``tolerance``, inf = none) and charge
        ``spent`` as the simulator does: the latency on a reveal, the cutoff
        on a timeout."""
        self.execute_cell(i, j, tolerance if np.isfinite(tolerance) else None)
        self.cells_explored += 1
        revealed = not np.isnan(self.matrix[i, j])
        self.spent += float(self.matrix[i, j] if revealed else self.cutoffs[i, j])
        return revealed

    def explore(self, rounds: int = 3, k: int = 4, model: str = "als") -> list[dict]:
        """LimeQO rounds over live executions: the simulator's loop
        (:meth:`~limeqo_spark.strategies.Strategy.run` of a
        :class:`~limeqo_spark.strategies.LimeQOStrategy`) with this session
        as its cell executor. ``model`` predicts the cells: ``"als"``
        censored-ALS completion, ``"plan"`` the ridge plan-feature cost
        model, ``"tcnn"`` the numpy tree-CNN over the real EXPLAIN trees
        (LimeQO+ live). Stops after ``rounds`` rounds or once every cell is
        explored; returns the per-round metric records."""
        if not self.mask.any():
            raise RuntimeError("explore needs an observation: call bootstrap() first")
        return LimeQOStrategy(
            None, k=k, seed=self.seed, max_rounds=rounds, slack=None, state=self,
            model=model, rank=self.rank, iters=self.iters, lam=self.lam,
        ).run()

    def best_hints(self) -> dict[str, tuple[int, float]]:
        """Current recommendation: per query, the best observed (hint, latency)."""
        out: dict[str, tuple[int, float]] = {}
        for qi, qid in enumerate(self.query_ids):
            row = self.matrix[qi]
            if np.isnan(row).all():
                continue
            hj = int(np.nanargmin(row))
            out[qid] = (hj, float(row[hj]))
        return out

    def to_long_df(self, spark: SparkSession | None = None) -> DataFrame:
        """Observations as a long-form DataFrame (the persistable state)."""
        spark = spark or self.spark
        rows = [
            (o.query_id, o.hint_id, o.latency, o.censor_cutoff, o.plan_hash, o.measured)
            for o in self.observations
        ]
        return spark.createDataFrame(
            rows,
            "query_id string, hint_id int, latency double, censor_cutoff double, "
            "plan_hash string, measured boolean",
        )

    def save(self, path: str) -> None:
        """Persist the observation log as Parquet — the exploration state
        (SURVEY §3.3) survives a driver restart and is queryable like any
        other table."""
        self.to_long_df().write.mode("overwrite").parquet(path)

    def restore(self, path: str) -> int:
        """Replay a persisted observation log into this session (matrix,
        cutoffs, explored flags). Replay is idempotent: latency reveals
        overwrite with the same value and cutoffs take the max, so restoring
        on top of partial state is safe. Observations for queries or hints
        no longer in this session's workload are skipped (workloads drift
        between runs); returns the number applied."""
        rows = self.spark.read.parquet(path).collect()
        idx = {q: i for i, q in enumerate(self.query_ids)}
        n = 0
        for r in rows:
            qi = idx.get(r.query_id)
            if qi is None or not (0 <= r.hint_id < len(self.hint_sets)):
                continue
            self._record(
                qi, r.hint_id, r.latency, r.censor_cutoff, r.plan_hash or "", r.measured
            )
            n += 1
        return n
