"""Long-form workload DataFrame operators (A6-A18) vs the numpy mirror."""

from __future__ import annotations

import numpy as np
import pytest

from limeqo_spark import workload as wlops
from limeqo_spark.workload import Workload


@pytest.fixture(scope="module")
def job(reference_dataset):
    return Workload.from_reference(
        f"{reference_dataset}/job-matrix.csv",
        f"{reference_dataset}/init_job_mask.npy",
    )


@pytest.fixture(scope="module")
def long_df(spark, job):
    df = job.to_long_df(spark)
    df.cache().count()
    return df


def test_long_form_shape(long_df, job):
    q, h = job.matrix.shape
    assert long_df.count() == q * h
    assert long_df.filter("observed").count() == int(job.mask.sum())


def test_default_column_time(long_df, job):
    got = wlops.default_column_time(long_df).collect()[0]["default_time"]
    assert got == pytest.approx(job.default_time, rel=1e-9)


def test_min_observed_matches_numpy(long_df, job):
    got = {r["query_idx"]: r["min_observed"] for r in wlops.min_observed(long_df).collect()}
    expected = np.where(job.mask > 0, job.matrix, np.inf).min(axis=1)
    for i, e in enumerate(expected):
        assert got[i] == pytest.approx(e, rel=1e-9)


def test_argmin_per_query(long_df, job):
    rows = wlops.argmin_per_query(long_df.filter("observed")).collect()
    masked = np.where(job.mask > 0, job.matrix, np.inf)
    for r in rows:
        i = r["query_idx"]
        assert r["best_latency"] == pytest.approx(masked[i].min(), rel=1e-9)
        # tie-break: lowest hint_id among minima
        minima = np.flatnonzero(masked[i] == masked[i].min())
        assert r["hint_id"] == minima[0]


def test_percentiles_match_numpy(long_df, job):
    row = wlops.workload_percentiles(long_df).collect()[0]
    mo = np.where(job.mask > 0, job.matrix, np.inf).min(axis=1)
    assert row["total_latency"] == pytest.approx(mo.sum(), rel=1e-9)
    for p, key in ((50, "p50"), (90, "p90"), (95, "p95"), (99, "p99")):
        assert row[key] == pytest.approx(np.percentile(mo, p), rel=1e-6)


def test_equivalence_groups(long_df):
    rows = wlops.equivalence_groups_from_values(long_df).collect()
    assert rows, "expected equivalence groups over observed cells"
    by_q: dict[int, set[int]] = {}
    for r in rows:
        by_q.setdefault(r["query_idx"], set()).add(r["equiv_group"])
    # dense ranks start at 1 and are contiguous per query
    for groups in by_q.values():
        assert min(groups) == 1
        assert max(groups) == len(groups)


def test_workload_long_form_roundtrip(spark):
    """from_long_df inverts to_long_df: matrix values on observed cells,
    mask everywhere, and query ids survive the Parquet-shaped round trip."""
    import numpy as np

    from limeqo_spark.workload import Workload

    wl = Workload.synthetic_low_rank(n_rows=12, n_cols=7, seed=3, density=0.4)
    back = Workload.from_long_df(wl.to_long_df(spark))
    assert back.query_ids == sorted(wl.query_ids)
    order = [wl.query_ids.index(q) for q in back.query_ids]
    np.testing.assert_array_equal(back.mask, wl.mask[order])
    np.testing.assert_allclose(
        back.matrix * back.mask, (wl.matrix * wl.mask)[order], rtol=1e-12
    )


def test_from_long_df_aligns_sparse_hint_columns(spark):
    """Regression (r8 review): a live log that only contains EXPLORED
    cells (hint ids with gaps) must rebuild into a matrix whose column k
    IS hint k — the old pivot gap-compressed columns, so argmin/best-hint
    indices named the wrong HintSets."""
    import numpy as np

    from limeqo_spark.workload import Workload

    wl = Workload.synthetic_low_rank(n_rows=6, n_cols=8, rank=2, seed=3, density=0.9)
    sparse = wl.to_long_df(spark).filter("observed AND hint_id IN (0, 3, 7)")
    rb = Workload.from_long_df(sparse)
    assert rb.matrix.shape == (6, 8)
    for h in (0, 3, 7):
        want = np.where(wl.mask[:, h] > 0, wl.matrix[:, h], 0)
        got = np.where(rb.mask[:, h] > 0, rb.matrix[:, h], 0)
        assert np.allclose(got, want), f"hint {h} misaligned"
    assert rb.mask[:, [1, 2, 4, 5, 6]].sum() == 0, "gap hints must be unobserved"


def test_from_long_df_empty_log(spark):
    """Regression (ADVICE r8): an observations log with zero rows (a live
    session saved before any cell was explored, or a fully-filtered long df)
    must rebuild into an empty Workload, not raise max() on no columns."""
    from limeqo_spark.workload import Workload

    wl = Workload.synthetic_low_rank(n_rows=4, n_cols=5, rank=2, seed=1)
    empty = wl.to_long_df(spark).filter("hint_id < 0")
    rb = Workload.from_long_df(empty)
    assert rb.matrix.shape == (0, 0)
    assert rb.mask.shape == (0, 0)
    assert rb.query_ids == []


def test_from_long_df_roundtrip_hypothesis(spark):
    """Property (r9, hardens the A1/A2/A30 state surface after the
    empty-log fix): for random shapes/densities — including rows with no
    observations and fully-empty logs — from_long_df(to_long_df(wl))
    recovers exactly the observed cells of wl, with the mask matching and
    unobserved cells zeroed. Spark-in-the-loop, so examples are few and
    shapes small; the pure-numpy pivot corners live in the solver
    property suite."""
    import numpy as np
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    from limeqo_spark.workload import Workload

    @settings(
        max_examples=8,
        deadline=None,
        suppress_health_check=[HealthCheck.function_scoped_fixture],
    )
    @given(
        rows=st.integers(2, 12),
        cols=st.integers(1, 8),
        density=st.floats(0.0, 1.0),
        seed=st.integers(0, 2**16),
    )
    def check(rows: int, cols: int, density: float, seed: int) -> None:
        rng = np.random.default_rng(seed)
        m = rng.random((rows, cols)) + 0.1
        mask = (rng.random((rows, cols)) < density).astype(np.float64)
        wl = Workload(m, mask)
        rb = Workload.from_long_df(wl.to_long_df(spark).filter("observed"))
        if mask.sum() == 0:
            assert rb.matrix.shape == (0, 0)
            return
        # queries with no observed cell drop out of the log entirely;
        # the rebuilt index is LEXICOGRAPHIC on query_id (so "q10" < "q2"
        # for the default ids); hint columns reindex densely to
        # 0..max(observed hint)
        kept_rows = sorted(
            np.where(mask.sum(axis=1) > 0)[0], key=lambda i: f"q{i}"
        )
        max_h = int(np.where(mask.any(axis=0))[0].max())
        assert rb.matrix.shape == (len(kept_rows), max_h + 1)
        sub_mask = mask[kept_rows][:, : max_h + 1]
        sub_m = m[kept_rows][:, : max_h + 1]
        assert np.array_equal(rb.mask, sub_mask)
        assert np.array_equal(rb.matrix, np.where(sub_mask > 0, sub_m, 0.0))

    check()
