"""Workload-matrix data model (SURVEY §1.1): long-form observations.

Spark has no dense-matrix table; the canonical representation is a long
DataFrame ``(query_idx, query_id, hint_id, latency, observed, censor_cutoff,
explored)`` — Parquet-friendly, joinable, partitionable by hint or query at
scale. A driver-side numpy mirror backs the (tiny, <=6191x49) solver loop.

Ingest follows the reference surface (A1 CSV matrix, A2 NPY mask) but NULLs
replace the 0/inf sentinels: unobserved latency is NULL, not 0 (SURVEY §1.2).
"""

from __future__ import annotations

from dataclasses import dataclass, field

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F


@dataclass
class Workload:
    """A (queries x hint-sets) runtime matrix with an observation mask."""

    matrix: np.ndarray  # (Q, H) float64 latencies (ground truth in simulation)
    mask: np.ndarray  # (Q, H) bool/int — 1 = observed
    query_ids: list[str] = field(default_factory=list)

    def __post_init__(self) -> None:
        if not self.query_ids:
            self.query_ids = [f"q{i}" for i in range(self.matrix.shape[0])]

    # --- derived scalars (A6, A13) ---
    @property
    def default_time(self) -> float:
        """Sum of hint-0 (optimizer default) latencies."""
        return float(self.matrix[:, 0].sum())

    @property
    def opt_time(self) -> float:
        """Sum of per-query best latencies (the oracle lower envelope)."""
        return float(self.matrix.min(axis=1).sum())

    @classmethod
    def from_reference(cls, matrix_csv: str, mask_npy: str) -> Workload:
        """Load a reference-shipped workload (A1/A2): CSV keyed by filename
        with hint columns 0..H-1, plus an NPY {0,1} observation mask."""
        pdf = pd.read_csv(matrix_csv, index_col="filename")
        mask = np.load(mask_npy)
        return cls(pdf.to_numpy(dtype=np.float64), mask.astype(np.float64), list(pdf.index))

    @classmethod
    def synthetic_low_rank(
        cls,
        n_rows: int = 200,
        n_cols: int = 49,
        rank: int = 3,
        noise: float = 0.0,
        seed: int = 7,
        density: float = 0.1,
    ) -> Workload:
        rng = np.random.default_rng(seed)
        m = rng.random((n_rows, rank)) @ rng.random((rank, n_cols)) + 0.1
        if noise:
            m = m * (1 + noise * rng.standard_normal(m.shape))
        mask = (rng.random((n_rows, n_cols)) < density).astype(np.float64)
        mask[:, 0] = 1.0  # default plan always observed
        return cls(np.abs(m), mask)

    @classmethod
    def from_long_df(cls, long_df: DataFrame) -> Workload:
        """Rebuild from the long observations form (``to_long_df`` output or
        a ``LiveSteeringSession`` observations table persisted to Parquet):
        NULL latency = unobserved. Closes the live -> Parquet -> sim loop —
        a live-collected matrix can be re-explored or analyzed offline with
        the same strategy code. Unobserved cells are 0 in ``matrix`` and 0
        in ``mask``; only mask-respecting consumers (everything in this
        module) may touch them."""
        pdf = (
            long_df.select("query_id", "hint_id", "latency")
            .groupBy("query_id")
            .pivot("hint_id")
            .agg(F.min("latency"))
            .toPandas()
            .set_index("query_id")
            .sort_index()
        )
        # REINDEX to the dense 0..max(hint_id) range: a live log that only
        # contains EXPLORED cells pivots to a gap-compressed matrix whose
        # column k is NOT hint k — argmin/best-hint indices on the rebuilt
        # workload would name the wrong HintSets (review r8). Missing
        # hints become all-NaN (unobserved) columns. Censored cells
        # (latency NULL but cutoff > 0 in a live observations table) are
        # indistinguishable from unexplored here — the sim Workload
        # carries no cutoff matrix; re-exploration treats them as fresh.
        cols = [int(c) for c in pdf.columns]
        if not cols:  # empty log (live session saved before any exploration)
            return cls(np.zeros((len(pdf), 0)), np.zeros((len(pdf), 0)), list(pdf.index))
        pdf.columns = cols
        pdf = pdf.reindex(columns=range(max(cols) + 1))
        m = pdf.to_numpy(dtype=np.float64)
        mask = (~np.isnan(m)).astype(np.float64)
        return cls(np.nan_to_num(m, nan=0.0), mask, list(pdf.index))

    # --- Spark projections ---
    def to_long_df(self, spark: SparkSession) -> DataFrame:
        q, h = self.matrix.shape
        qi, hi = np.meshgrid(np.arange(q), np.arange(h), indexing="ij")
        obs = self.mask.ravel() > 0
        lat = self.matrix.ravel()
        pdf = pd.DataFrame(
            {
                "query_idx": qi.ravel().astype(np.int64),
                "query_id": np.array(self.query_ids, dtype=object)[qi.ravel()],
                "hint_id": hi.ravel().astype(np.int32),
                "latency": np.where(obs, lat, np.nan),
                "observed": obs,
            }
        )
        df = spark.createDataFrame(pdf)
        # NULL (not NaN / 0) marks unobserved — no sentinel conflation
        return df.withColumn(
            "latency", F.when(F.col("observed"), F.col("latency")).otherwise(F.lit(None))
        )


# --- long-form operators (A6-A17) — each a declarative Spark plan ----------


def default_column_time(long_df: DataFrame) -> DataFrame:
    """A6/A13: total latency of the default plan (hint 0)."""
    return (
        long_df.filter(F.col("hint_id") == 0)
        .agg(F.sum("latency").alias("default_time"))
    )


def min_observed(long_df: DataFrame) -> DataFrame:
    """A11: per-query best observed latency (NULL-safe: unobserved ignored)."""
    return (
        long_df.filter("observed")
        .groupBy("query_idx")
        .agg(F.min("latency").alias("min_observed"))
    )


def argmin_per_query(long_df: DataFrame, latency_col: str = "latency") -> DataFrame:
    """A12: per-query best hint, deterministically tie-broken by hint_id."""
    w = W.partitionBy("query_idx").orderBy(F.col(latency_col).asc(), F.col("hint_id").asc())
    return (
        long_df.filter(F.col(latency_col).isNotNull())
        .withColumn("rn", F.row_number().over(w))
        .filter("rn = 1")
        .select("query_idx", "hint_id", F.col(latency_col).alias("best_latency"))
    )


def workload_percentiles(long_df: DataFrame) -> DataFrame:
    """A14: p50/p90/p95/p99 over per-query best-observed latencies."""
    mo = min_observed(long_df)
    return mo.agg(
        F.percentile("min_observed", F.lit(0.5)).alias("p50"),
        F.percentile("min_observed", F.lit(0.9)).alias("p90"),
        F.percentile("min_observed", F.lit(0.95)).alias("p95"),
        F.percentile("min_observed", F.lit(0.99)).alias("p99"),
        F.sum("min_observed").alias("total_latency"),
    )


def topk_by_improvement(
    candidates: DataFrame, k: int, improve_col: str = "improve"
) -> DataFrame:
    """A16: rank unexplored cells by predicted improvement, take k."""
    return candidates.orderBy(F.col(improve_col).desc(), "query_idx", "hint_id").limit(k)


def equivalence_groups_from_values(long_df: DataFrame) -> DataFrame:
    """A18 (value-equality variant, as in the reference demo): hints with the
    identical observed latency for a query share a plan-equivalence group.
    Pure equality grouping — dense_rank over the value within the query."""
    obs = long_df.filter("observed")
    w = W.partitionBy("query_idx").orderBy("latency")
    return obs.select(
        "query_idx", "hint_id", F.dense_rank().over(w).alias("equiv_group")
    )
