"""Live steering session: LimeQO over REAL hinted Spark executions.

This is the end-to-end slice (SURVEY §7): a set of queries x the HintSet
registry, explored with censored-ALS completion, where "executing a cell"
launches the hinted query on the cluster with a wall-clock budget
(steer.run_steered) instead of a matrix lookup. Each query is built and
planned once per session (steer.hint_plans); a cell's run executes that
frame, and its measured latency is shared by every HintSet with the same
physical plan.

State lives in a long-form observations table (Parquet-persistable via
``to_long_df``); the tiny Q x H mirror drives the solver on the driver.
"""

from __future__ import annotations

import math
from collections.abc import Callable
from dataclasses import dataclass, field

import numpy as np

from pyspark.sql import DataFrame, SparkSession

from limeqo_spark import hints as H
from limeqo_spark.complete import complete_log_space
from limeqo_spark.plans import NODE_VOCABULARY, featurize, parse_formatted_tree, plan_hash
from limeqo_spark.steer import hint_plans, run_steered
from limeqo_spark.strategies import rank_cells_by_improvement, timeout_tolerance
from limeqo_spark.tcnn import RidgeCostModel, hint_onehot


@dataclass
class LiveObservation:
    query_id: str
    hint_id: int
    latency: float | None  # None = censored
    censor_cutoff: float | None
    plan_hash: str
    measured: bool  # False = inherited from a plan-equivalent hint


@dataclass
class LiveSteeringSession:
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
        self._frames: dict[int, dict[str | None, DataFrame]] = {}
        self._plan_hashes: dict[tuple[int, int], str] = {}
        self._plan_texts: dict[tuple[int, int], str] = {}
        self._feature_cache: dict[tuple[int, int], np.ndarray] = {}
        self._tree_cache: dict[tuple[int, int], tuple[np.ndarray, np.ndarray]] = {}
        self._tcnn = None

    # --- state helpers ---
    @property
    def mask(self) -> np.ndarray:
        return (~np.isnan(self.matrix)).astype(np.float64)

    def min_observed(self) -> np.ndarray:
        masked = np.where(np.isnan(self.matrix), np.inf, self.matrix)
        return masked.min(axis=1)

    def _fingerprints(self, qi: int) -> dict[int, str]:
        """Plan hash per hint for one query (planning only, one build per
        join hint: steer.hint_plans). The built frames are kept for the
        cell runs and each cell's EXPLAIN text for the featurizers, so a
        cell is built and planned once per session."""
        if qi not in self._frames:
            build = self.queries[self.query_ids[qi]]
            self._frames[qi], texts = hint_plans(self.spark, build, self.hint_sets)
            for hj, text in enumerate(texts):
                self._plan_texts[(qi, hj)] = text
                self._plan_hashes[(qi, hj)] = plan_hash(text)
        return {hj: self._plan_hashes[(qi, hj)] for hj in range(len(self.hint_sets))}

    def frame(self, qi: int, hj: int) -> DataFrame:
        """The frame the fingerprint pass built for this cell's join hint."""
        self._fingerprints(qi)
        return self._frames[qi][self.hint_sets[hj].join_hint]

    def _features(self, qi: int, hj: int) -> np.ndarray:
        """LimeQO+ live featurization (A22/A27 on real Spark plans): parse
        the EXPLAIN FORMATTED tree of THIS query under THIS HintSet into the
        node-histogram feature vector, concatenated with the hint one-hot."""
        key = (qi, hj)
        if key not in self._feature_cache:
            self._fingerprints(qi)
            tree = parse_formatted_tree(self._plan_texts[key])
            plan_vec = (
                featurize(tree)
                if tree is not None
                else np.zeros(len(NODE_VOCABULARY) + 2)
            )
            self._feature_cache[key] = np.concatenate(
                [plan_vec, hint_onehot(hj, len(self.hint_sets))]
            )
        return self._feature_cache[key]

    def _record(self, qi: int, hj: int, latency: float | None, cutoff: float | None, fp: str, measured: bool) -> None:
        self.explored[qi, hj] = 1
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
        df = self.frame(qi, hj)
        runs = []
        for _ in range(max(1, self.repeats)):
            runs.append(run_steered(self.spark, df, self.hint_sets[hj], timeout_s))
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
        plans and :meth:`explore` folds them into the model, which
        extrapolates their unobserved cells from the hint factors it
        already learned. Existing observations, plan caches, and explored
        flags are untouched (old row indices are stable)."""
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

    def _predict_plan_model(self) -> np.ndarray:
        """LimeQO+ live prediction: fit the plan-feature cost model (ridge
        fallback of the TCNN, A21/A25-A27) on every explored cell — observed
        latency or censoring cutoff — and predict the full Q x H matrix from
        the real EXPLAIN features. Observed cells keep their true value."""
        xs, ys, cuts = [], [], []
        for qi, hj in np.argwhere(self.explored > 0):
            lat, cut = self.matrix[qi, hj], self.cutoffs[qi, hj]
            if np.isnan(lat) and cut <= 0:
                continue
            xs.append(self._features(int(qi), int(hj)))
            ys.append(0.0 if np.isnan(lat) else lat)
            cuts.append(cut)
        if not xs:
            raise RuntimeError(
                "plan-model exploration needs at least one observation; "
                "call bootstrap() before explore(model='plan')"
            )
        model = RidgeCostModel().fit(np.asarray(xs), np.asarray(ys), np.asarray(cuts))
        q, h = self.explored.shape
        all_feats = np.stack([self._features(qi, hj) for qi in range(q) for hj in range(h)])
        pred = model.predict(all_feats).reshape(q, h)
        return np.where(np.isnan(self.matrix), pred, self.matrix)

    def _flat_tree(self, qi: int, hj: int):
        """Flattened (features, child-index) EXPLAIN tree for one cell —
        the real-plan input of the live TCNN (A22/A23 on Spark plans)."""
        key = (qi, hj)
        if key not in self._tree_cache:
            from limeqo_spark.tcnn import flatten_tree

            self._fingerprints(qi)
            tree = parse_formatted_tree(self._plan_texts[key])
            if tree is None:
                d = len(NODE_VOCABULARY)
                self._tree_cache[key] = (np.zeros((2, d)), np.zeros((2, 2), dtype=np.int64))
            else:
                self._tree_cache[key] = flatten_tree(tree)
        return self._tree_cache[key]

    def _predict_tcnn_model(self) -> np.ndarray:
        """LimeQO+ live with the executable tree-CNN (A21/A24-A27): train
        :class:`~limeqo_spark.tcnn.NumpyTCNN` on the real EXPLAIN trees of
        every explored cell (censored hinge on timeouts), then predict the
        full Q x H matrix from each cell's own plan tree + query/hint
        embeddings. Observed cells keep their true value."""
        from limeqo_spark.tcnn import NumpyTCNN, collate_trees

        q, h = self.explored.shape
        n_feat = len(NODE_VOCABULARY)
        # unique trees over ALL cells (train + predict), deduped by plan hash
        tree_of: dict[tuple[int, int], int] = {}
        flats, hash_to_id = [], {}
        for qi in range(q):
            for hj in range(h):
                self._flat_tree(qi, hj)  # also fills the plan-hash cache
                ph = self._plan_hashes[(qi, hj)]
                if ph not in hash_to_id:
                    hash_to_id[ph] = len(flats)
                    flats.append(self._tree_cache[(qi, hj)])
                tree_of[(qi, hj)] = hash_to_id[ph]
        trees = collate_trees(flats)
        xs, qs, hs_, ys, cuts = [], [], [], [], []
        for qi, hj in np.argwhere(self.explored > 0):
            lat, cut = self.matrix[qi, hj], self.cutoffs[qi, hj]
            if np.isnan(lat) and cut <= 0:
                continue
            xs.append(tree_of[(int(qi), int(hj))])
            qs.append(int(qi))
            hs_.append(int(hj))
            ys.append(0.0 if np.isnan(lat) else lat)
            cuts.append(cut)
        if not xs:
            raise RuntimeError(
                "TCNN exploration needs at least one observation; "
                "call bootstrap() before explore(model='tcnn')"
            )
        if self._tcnn is None:
            self._tcnn = NumpyTCNN(
                n_feat, q, h, rank=8, conv1=32, conv2=16, seed=self.seed
            )
            epochs = 800
        else:
            epochs = 200
        self._tcnn.fit(
            trees, np.asarray(xs), np.asarray(qs), np.asarray(hs_),
            np.asarray(ys), np.asarray(cuts), epochs=epochs, lr=1e-2,
        )
        all_tid = np.asarray([tree_of[(qi, hj)] for qi in range(q) for hj in range(h)])
        allq = np.repeat(np.arange(q), h)
        allh = np.tile(np.arange(h), q)
        pred = self._tcnn.predict(trees, all_tid, allq, allh).reshape(q, h)
        return np.where(np.isnan(self.matrix), pred, self.matrix)

    def explore(self, rounds: int = 3, k: int = 4, model: str = "als") -> None:
        """LimeQO rounds: predict unobserved cells — ``model="als"`` via
        censored-ALS matrix completion (LimeQO), ``model="plan"`` via the
        ridge plan-feature cost model, ``model="tcnn"`` via the executable
        numpy tree-CNN over real EXPLAIN trees (LimeQO+ live) — pick the
        top-k improvement cells, execute them with the timeout tolerance
        of :func:`~limeqo_spark.strategies.timeout_tolerance`."""
        rng = np.random.default_rng(self.seed)
        for _ in range(rounds):
            if self.explored.all():
                break
            if model == "tcnn":
                completed = self._predict_tcnn_model()
            elif model == "plan":
                completed = self._predict_plan_model()
            else:
                completed = complete_log_space(
                    np.nan_to_num(self.matrix, nan=0.0),
                    self.mask,
                    cutoffs=self.cutoffs,
                    rank=self.rank,
                    iters=self.iters,
                    lam=self.lam,
                    seed=int(rng.integers(2**31)),
                ).completed
            mo = self.min_observed()
            cells = rank_cells_by_improvement(completed, self.explored, mo, k)
            if not cells:
                untried = np.argwhere(self.explored == 0)
                take = untried[rng.permutation(len(untried))[:k]]
                cells = [(int(i), int(j)) for i, j in take]
            for qi, hj in cells:
                tol = timeout_tolerance(mo[qi], completed[qi, hj]) if math.isfinite(mo[qi]) else None
                self.execute_cell(qi, hj, tol)

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
