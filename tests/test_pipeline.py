"""Property tests for the engine-local (non-oracle) pipeline operators:
MinHash-LSH and SimHash must recall the planted near-dup pairs; LSH-bucketed
ANN must agree with brute force on most top-5 neighbors."""

from __future__ import annotations

import pytest

from limeqo_spark.manifest import REGISTRY
from limeqo_spark.pipeline.corpus import PLANT_N, PLANT_OFFSET

PLANTED = {(i, i + PLANT_OFFSET) for i in range(PLANT_N)}


@pytest.fixture(scope="module")
def minhash_pairs(spark, sf_dir):
    rows = REGISTRY["dedup_minhash_lsh"].builder(spark, sf_dir).collect()
    return {(r["a"], r["b"]) for r in rows}


def test_minhash_recalls_planted_pairs(minhash_pairs):
    recall = len(minhash_pairs & PLANTED) / len(PLANTED)
    assert recall >= 0.95, f"MinHash recall {recall:.2f} on planted near-dups"


def test_minhash_no_pair_explosion(minhash_pairs):
    # candidates should stay near the planted count, not blow up all-pairs
    assert len(minhash_pairs) <= 10 * PLANT_N


def test_cluster_canonical_resolves_planted_pairs(spark, sf_dir):
    """Each planted clone (i+PLANT_OFFSET) must resolve to canonical i, and
    every canonical doc must be marked keep=True."""
    rows = REGISTRY["dedup_cluster_canonical"].builder(spark, sf_dir).collect()
    canon = {r["doc_id"]: r["canonical_id"] for r in rows}
    keep = {r["doc_id"]: r["keep"] for r in rows}
    for i in range(PLANT_N):
        clone = i + PLANT_OFFSET
        assert canon.get(clone) == canon.get(i) is not None
        assert not keep[clone]
    for d, c in canon.items():
        assert keep[d] == (d == c)
        assert canon[c] == c, "canonical of a canonical must be itself"


def test_two_phase_cc_long_chain_converges_in_log_rounds(spark):
    """Adversarial-diameter graph: a 256-node path (diameter 255). The
    large-star/small-star kernel must find the single component in
    O(log n) rounds — far below the diameter — and agree with the
    min-label kernel given enough iterations."""
    from limeqo_spark.pipeline.cluster import (
        connected_components_min_label,
        connected_components_two_phase,
    )

    n = 256
    chain = spark.createDataFrame([(i, i + 1) for i in range(n - 1)], "a long, b long")
    stats: dict = {}
    comp = connected_components_two_phase(chain, max_iter=20, stats=stats)
    rows = comp.collect()
    assert len(rows) == n
    assert {r["component"] for r in rows} == {0}
    assert stats["rounds"] <= 10, f"took {stats['rounds']} rounds for a 256-path"

    # and the min-label kernel raises rather than silently returning
    # partial labels when the diameter exceeds its round budget
    import pytest as _pytest

    with _pytest.raises(RuntimeError, match="did not converge"):
        connected_components_min_label(chain, max_iter=5)


def test_two_phase_cc_matches_min_label_on_random_graph(spark):
    """Both kernels produce identical (node, component) labelings on a
    random multi-component graph."""
    import numpy as np

    from limeqo_spark.pipeline.cluster import (
        connected_components_min_label,
        connected_components_two_phase,
    )

    rng = np.random.default_rng(5)
    edges = [
        (int(g * 100 + rng.integers(50)), int(g * 100 + rng.integers(50)))
        for g in range(6)
        for _ in range(40)
    ]
    df = spark.createDataFrame([(a, b) for a, b in edges if a != b], "a long, b long")
    two = {(r["node"], r["component"]) for r in connected_components_two_phase(df).collect()}
    ml = {(r["node"], r["component"]) for r in connected_components_min_label(df).collect()}
    assert two == ml and len(two) > 0


def test_cc_auto_dispatch_modes_agree(spark):
    """connected_components_auto must produce the min-label labeling in
    BOTH dispatch modes: driver union-find under the edge threshold, and
    the two-phase kernel when forced over it (local_threshold=0). Also
    pins the mode actually chosen, so a silent dispatch change is
    visible."""
    import numpy as np

    from limeqo_spark.pipeline.cluster import (
        connected_components_auto,
        connected_components_min_label,
    )

    rng = np.random.default_rng(7)
    edges = [
        (int(g * 100 + rng.integers(50)), int(g * 100 + rng.integers(50)))
        for g in range(5)
        for _ in range(30)
    ]
    df = spark.createDataFrame([(a, b) for a, b in edges if a != b], "a long, b long")
    want = {(r["node"], r["component"]) for r in connected_components_min_label(df).collect()}

    stats: dict = {}
    local = {
        (r["node"], r["component"])
        for r in connected_components_auto(df, stats=stats).collect()
    }
    assert stats["mode"] == "local_union_find"
    assert local == want and len(local) > 0

    stats = {}
    dist = {
        (r["node"], r["component"])
        for r in connected_components_auto(df, local_threshold=0, stats=stats).collect()
    }
    assert stats["mode"] == "two_phase"
    assert dist == want


def test_retain_keyed_release(spark):
    """registry.retain: re-retaining under the same key unpersists the
    previous frame (the ADVICE r7 leak-bounding contract), and
    release_retained drops everything."""
    from limeqo_spark.relational.registry import release_retained, retain

    release_retained()  # clean slate
    df1 = retain("test_retain_key", spark.range(10))
    assert df1.is_cached
    df2 = retain("test_retain_key", spark.range(20))
    assert not df1.is_cached and df2.is_cached
    other = retain("test_retain_other", spark.range(5))
    assert release_retained() == 2
    assert not df2.is_cached and not other.is_cached


def test_jaccard_retain_keys_are_per_corpus(spark, sf_dir):
    """Regression (ADVICE r8): building jaccard pairs over a SECOND corpus
    must not evict the first corpus's still-referenced shingle cache —
    the retain key now carries the corpus plan identity (semanticHash),
    so interleaved builds keep both caches live."""
    from limeqo_spark.pipeline.corpus import planted_corpus
    from limeqo_spark.pipeline.dedup import ngram_jaccard_pairs
    from limeqo_spark.relational.registry import _RETAINED, release_retained

    release_retained()
    c1 = planted_corpus(spark, sf_dir)
    c2 = planted_corpus(spark, sf_dir).filter("doc_id % 2 = 0")
    ngram_jaccard_pairs(c1, n=3, tau=0.6)
    keys_after_first = {k for k in _RETAINED if k.startswith("jaccard_shingles")}
    ngram_jaccard_pairs(c2, n=3, tau=0.6)
    keys_after_second = {k for k in _RETAINED if k.startswith("jaccard_shingles")}
    assert keys_after_first and keys_after_first < keys_after_second, (
        "second corpus must add its own cache key, not replace the first"
    )
    for k in keys_after_second:
        assert _RETAINED[k].is_cached, f"{k} was evicted"
    # same corpus plan -> same key (re-running an entry still self-evicts)
    ngram_jaccard_pairs(planted_corpus(spark, sf_dir), n=3, tau=0.6)
    assert {
        k for k in _RETAINED if k.startswith("jaccard_shingles")
    } == keys_after_second
    release_retained()


def test_srp_lsh_projection_margins(sf_dir):
    """Guard for the SRP-LSH hash-parity contract: no embedding projects
    within float-reassociation distance of any hyperplane (a near-zero dot
    product could let Spark and DuckDB disagree on a signature bit). Also
    checks no cosine lands on a ROUND(x,4) half-way boundary."""
    import numpy as np
    import pyarrow.parquet as pq

    from limeqo_spark.pipeline.similarity import _hyperplanes

    emb = np.array(
        pq.read_table(f"{sf_dir}/embeddings.parquet").to_pandas()["embedding"].tolist(),
        dtype=np.float64,
    )
    planes = _hyperplanes()
    dots = emb @ planes.T
    assert np.abs(dots).min() > 1e-8, "a projection sits on a hyperplane"
    # ROUND(cos, 4) boundary margin for the probe cosines
    probes = emb[:10]
    norms = np.linalg.norm(emb, axis=1)
    cos = (probes @ emb.T) / (np.linalg.norm(probes, axis=1)[:, None] * norms[None, :])
    np.fill_diagonal(cos[:, :10], 0.0)
    frac = np.abs(cos * 1e4 - np.floor(cos * 1e4) - 0.5)
    assert frac.min() > 1e-6, "a cosine sits on a 4-dp rounding boundary"


def test_ivf_assignment_margins(sf_dir):
    """Guard for the IVF hash-parity contract (r9, pinned centroids): cell
    ranking is by centroid distance, computed with different summation
    orders in Spark (aggregate/zip_with), DuckDB (list_distance), and the
    driver-side numpy path — a rank flip at the decision boundaries would
    desync engines. The boundaries that matter: corpus rank-2 vs rank-3
    (spill-2 assignment set) and probe rank-6 vs rank-7 (nprobe cut).
    Reassociation noise for 64-dim O(1) vectors is ~1e-13; require >=1e-7."""
    import numpy as np
    import pyarrow.parquet as pq

    from limeqo_spark.pipeline.similarity import (
        _IVF_NPROBE,
        _IVF_SPILL,
        _ivf_centers,
        N_PROBES,
    )

    emb = np.array(
        pq.read_table(f"{sf_dir}/embeddings.parquet").to_pandas()["embedding"].tolist(),
        dtype=np.float64,
    )
    d2 = np.sort(((emb[:, None, :] - _ivf_centers()[None]) ** 2).sum(-1), axis=1)
    spill_gap = (d2[:, _IVF_SPILL] - d2[:, _IVF_SPILL - 1]).min()
    probe_gap = (d2[:N_PROBES, _IVF_NPROBE] - d2[:N_PROBES, _IVF_NPROBE - 1]).min()
    assert spill_gap > 1e-7, f"corpus spill boundary gap {spill_gap:.2e}"
    assert probe_gap > 1e-7, f"probe nprobe boundary gap {probe_gap:.2e}"


def test_pq_margins(sf_dir):
    """Guard for the PQ hash-parity contract (r9, pinned codebooks): the
    cross-engine decision boundaries are (a) per-subspace code assignment
    (argmin over 16 codewords) and (b) the ADC top-100 shortlist cut.
    Both must sit far above ~1e-13 reassociation noise; require >=1e-8
    for codes (measured >=7.3e-7) and >=1e-7 for the cut (measured
    >=4.7e-6 raw / >=7.7e-5 residual)."""
    import numpy as np
    import pyarrow.parquet as pq

    from limeqo_spark.pipeline.similarity import (
        _IVF_NPROBE,
        _IVF_SPILL,
        _PQ_M,
        _PQ_SHORTLIST,
        _PQ_SUB,
        _ivf_centers,
        _pq_codebooks,
        _residual_codebooks,
    )

    x = np.array(
        pq.read_table(f"{sf_dir}/embeddings.parquet").to_pandas()["embedding"].tolist(),
        dtype=np.float64,
    )

    def encode(vecs, cb):
        gap, codes = np.inf, np.empty((len(vecs), _PQ_M), dtype=int)
        for m in range(_PQ_M):
            sub = vecs[:, m * _PQ_SUB : (m + 1) * _PQ_SUB]
            d2 = ((sub[:, None, :] - cb[m][None]) ** 2).sum(-1)
            s = np.sort(d2, axis=1)
            gap = min(gap, (s[:, 1] - s[:, 0]).min())
            codes[:, m] = d2.argmin(1)
        return gap, codes

    # raw PQ: code gaps + shortlist cut over all 10 probes
    cb = _pq_codebooks()
    gap, codes = encode(x, cb)
    assert gap > 1e-8, f"raw code-assignment gap {gap:.2e}"
    cn2 = (cb**2).sum(-1)
    recon = np.concatenate(
        [cb[m][codes[:, m]] for m in range(_PQ_M)], axis=1
    )
    an2 = cn2[np.arange(_PQ_M)[:, None], codes.T].sum(0)
    for p in range(10):
        adc = (recon @ x[p]) / (np.linalg.norm(x[p]) * np.sqrt(np.maximum(an2, 1e-12)))
        adc = np.delete(adc, p)
        s = np.sort(adc)[::-1]
        if len(s) > _PQ_SHORTLIST:
            cut = s[_PQ_SHORTLIST - 1] - s[_PQ_SHORTLIST]
            assert cut > 1e-7, f"raw shortlist cut gap {cut:.2e} (probe {p})"

    # residual PQ (IVFADC): code gaps over both spill ranks + candidate cut
    rcb = _residual_codebooks()
    centers = _ivf_centers()
    order = ((x[:, None, :] - centers[None]) ** 2).sum(-1).argsort(1)
    spill = []
    for srank in range(_IVF_SPILL):
        cell = order[:, srank]
        gap, codes = encode(x - centers[cell], rcb)
        assert gap > 1e-8, f"residual code gap {gap:.2e} (spill {srank})"
        spill.append((cell, codes))
    for p in range(3):
        pcells = set(order[p, :_IVF_NPROBE].tolist())
        adcs = []
        for cell, codes in spill:
            for i in np.where(np.isin(cell, list(pcells)) & (np.arange(len(x)) != p))[0]:
                v = centers[cell[i]] + np.concatenate(
                    [rcb[m][codes[i, m]] for m in range(_PQ_M)]
                )
                adcs.append((x[p] @ v) / (np.linalg.norm(x[p]) * np.sqrt(max(v @ v, 1e-12))))
        s = np.sort(np.array(adcs))[::-1]
        if len(s) > _PQ_SHORTLIST:
            cut = s[_PQ_SHORTLIST - 1] - s[_PQ_SHORTLIST]
            assert cut > 1e-7, f"ivfpq shortlist cut gap {cut:.2e} (probe {p})"


def test_bitext_mining_recovers_planted_pairs(spark, sf_dir):
    """Every planted translation (an exact clone of a low-id label-0
    vector on the target side) must be mined as a mutual-best pair with a
    high margin; mined pairs are unique per side (mutual-best is a
    partial matching)."""
    import pyarrow.parquet as pq

    from limeqo_spark.pipeline.similarity import (
        _BITEXT_PLANT_CUT,
        _BITEXT_PLANT_OFFSET,
    )

    pdf = pq.read_table(f"{sf_dir}/embeddings.parquet").to_pandas()
    planted = set(
        pdf[(pdf.label == 0) & (pdf.vec_id < _BITEXT_PLANT_CUT)].vec_id.tolist()
    )
    rows = REGISTRY["embed_bitext_margin_mining"].builder(spark, sf_dir).collect()
    mined = {(r["sid"], r["tid"]): r["margin"] for r in rows}
    for s in planted:
        key = (s, s + _BITEXT_PLANT_OFFSET)
        assert key in mined, f"planted pair {key} not mined"
        assert mined[key] > 1.2, f"planted pair margin {mined[key]} suspiciously low"
    sids = [r["sid"] for r in rows]
    tids = [r["tid"] for r in rows]
    assert len(sids) == len(set(sids)) and len(tids) == len(set(tids))


def test_bitext_margins(sf_dir):
    """Guard for the bitext hash-parity contract: the cross-engine
    decision boundaries are (a) the k-NN denominator cut (k-th vs k+1-th
    cosine per side), (b) the mutual-argmax pick (best vs second-best
    margin per side), (c) the 1.05 threshold, and (d) ROUND(m, 4). All
    must clear ~1e-13 reassociation noise by orders of magnitude."""
    import numpy as np
    import pyarrow.parquet as pq

    from limeqo_spark.pipeline.similarity import (
        _BITEXT_K,
        _BITEXT_PLANT_CUT,
        _BITEXT_PLANT_OFFSET,
        _BITEXT_TAU,
    )

    pdf = pq.read_table(f"{sf_dir}/embeddings.parquet").to_pandas()
    src = np.asarray(pdf[pdf.label == 0].embedding.to_list(), dtype=np.float64)
    t1 = pdf[pdf.label == 1]
    plants = pdf[(pdf.label == 0) & (pdf.vec_id < _BITEXT_PLANT_CUT)]
    tgt = np.vstack(
        [
            np.asarray(t1.embedding.to_list(), dtype=np.float64),
            np.asarray(plants.embedding.to_list(), dtype=np.float64),
        ]
    )
    sn = np.linalg.norm(src, axis=1)
    tn = np.linalg.norm(tgt, axis=1)
    c = (src @ tgt.T) / np.outer(sn, tn)
    k = _BITEXT_K
    cs = np.sort(c, axis=1)[:, ::-1]
    ct = np.sort(c.T, axis=1)[:, ::-1]
    assert (cs[:, k - 1] - cs[:, k]).min() > 1e-9, "fwd k-NN cut too tight"
    assert (ct[:, k - 1] - ct[:, k]).min() > 1e-9, "bwd k-NN cut too tight"
    a_s = cs[:, :k].mean(1)
    a_t = ct[:, :k].mean(1)
    m = c / (0.5 * (a_s[:, None] + a_t[None, :]))
    for mm in (m, m.T):
        s = np.sort(mm, axis=1)[:, ::-1]
        assert (s[:, 0] - s[:, 1]).min() > 1e-9, "mutual-argmax pick too tight"
    assert np.abs(m - _BITEXT_TAU).min() > 1e-9, "a margin sits on the threshold"
    frac = np.abs(m * 1e4 - np.floor(m * 1e4) - 0.5)
    assert frac.min() > 1e-7, "a margin sits on a 4-dp rounding boundary"


def test_bitext_ann_margins(sf_dir):
    """Hash-parity guard for the ANN bitext miner: beyond the exact
    entry's boundaries, the IVF candidate generation adds its own — the
    cell-rank cuts now apply to EVERY shard vector (each src/tgt vector is
    both an index entry at spill-2 and a query at nprobe-6, where
    `test_ivf_assignment_margins` only covers the corpus + the 10 ANN
    probes), and the k-NN / mutual-argmax / threshold / rounding
    boundaries are re-measured on the candidate-restricted margin matrix,
    whose values differ from the exact entry's."""
    import numpy as np
    import pyarrow.parquet as pq

    from limeqo_spark.pipeline.similarity import (
        _BITEXT_K,
        _BITEXT_PLANT_CUT,
        _BITEXT_TAU,
        _IVF_NPROBE,
        _IVF_SPILL,
        _ivf_centers,
    )

    pdf = pq.read_table(f"{sf_dir}/embeddings.parquet").to_pandas()
    src = np.asarray(
        pdf[pdf.label == 0].sort_values("vec_id").embedding.to_list(), dtype=np.float64
    )
    t1 = pdf[pdf.label == 1].sort_values("vec_id")
    plants = pdf[(pdf.label == 0) & (pdf.vec_id < _BITEXT_PLANT_CUT)].sort_values(
        "vec_id"
    )
    tgt = np.vstack(
        [
            np.asarray(t1.embedding.to_list(), dtype=np.float64),
            np.asarray(plants.embedding.to_list(), dtype=np.float64),
        ]
    )
    cents = _ivf_centers()
    # (a) cell-rank boundary gaps for every shard vector at BOTH cuts
    for shard in (src, tgt):
        d2 = np.sort(((shard[:, None, :] - cents[None]) ** 2).sum(-1), axis=1)
        for cut in (_IVF_SPILL, _IVF_NPROBE):
            gap = (d2[:, cut] - d2[:, cut - 1]).min()
            assert gap > 1e-7, f"cell-rank cut {cut} gap {gap:.2e}"
    # (b) rebuild the candidate-restricted margin matrix and re-check the
    # downstream decision boundaries on it
    def ranked(shard):
        return np.argsort(
            ((shard[:, None, :] - cents[None]) ** 2).sum(-1), axis=1, kind="stable"
        )

    rs, rt = ranked(src), ranked(tgt)
    fwd = np.zeros((len(src), len(tgt)), bool)
    bwd = np.zeros_like(fwd)
    for i in range(len(src)):
        probe, assign = set(rs[i, :_IVF_NPROBE]), set(rs[i, :_IVF_SPILL])
        for j in range(len(tgt)):
            if probe & set(rt[j, :_IVF_SPILL]):
                fwd[i, j] = True
            if set(rt[j, :_IVF_NPROBE]) & assign:
                bwd[i, j] = True
    c = (src @ tgt.T) / np.outer(
        np.linalg.norm(src, axis=1), np.linalg.norm(tgt, axis=1)
    )
    k, neg = _BITEXT_K, -1e9
    for cm, mask, axis in ((c, fwd, 1), (c.T, bwd.T, 1)):
        masked = np.where(mask, cm, neg)
        s = np.sort(masked, axis=axis)[:, ::-1]
        gaps = (s[:, k - 1] - s[:, k])[s[:, k] > neg / 2]
        assert gaps.min() > 1e-9, "candidate k-NN cut too tight"
    a_s = np.array(
        [np.sort(c[i][fwd[i]])[::-1][:k].mean() if fwd[i].any() else np.nan
         for i in range(len(src))]
    )
    a_t = np.array(
        [np.sort(c[:, j][bwd[:, j]])[::-1][:k].mean() if bwd[:, j].any() else np.nan
         for j in range(len(tgt))]
    )
    cand = fwd | bwd
    m = np.where(
        cand & np.isfinite(a_s[:, None]) & np.isfinite(a_t[None, :]),
        c / (0.5 * (a_s[:, None] + a_t[None, :])),
        np.nan,
    )
    mf = np.where(np.isnan(m), neg, m)
    for mm in (mf, mf.T):
        s = np.sort(mm, axis=1)[:, ::-1]
        gaps = (s[:, 0] - s[:, 1])[s[:, 1] > neg / 2]
        assert gaps.min() > 1e-9, "candidate mutual-argmax pick too tight"
    valid = mf[mf > neg / 2]
    assert np.abs(valid - _BITEXT_TAU).min() > 1e-9, "a margin sits on the threshold"
    frac = np.abs(valid * 1e4 - np.floor(valid * 1e4) - 0.5)
    assert frac.min() > 1e-7, "a margin sits on a 4-dp rounding boundary"


def test_bitext_recall_gate_raises_on_violation(spark, sf_dir, monkeypatch):
    """The gate must be a RAISING gate: a bar the measured recall cannot
    meet turns the driver's no_oracle row into a visible err instead of a
    clean 'ran' row."""
    import pytest

    from limeqo_spark.pipeline import similarity

    monkeypatch.setattr(
        similarity, "_BITEXT_RECALL_BARS", {"planted": 1.0, "exact_pairs": 1.01}
    )
    from limeqo_spark.relational.registry import GateFailure

    with pytest.raises(GateFailure, match="recall gate"):
        REGISTRY["bitext_recall_gate"].builder(spark, sf_dir).collect()


def test_bitext_ann_refuses_above_floor_without_optin(spark, sf_dir, monkeypatch):
    """The HASH oracle embeds the pinned floor centroids, so a corpus that
    pushes adaptive nlist above the floor must FAIL DESCRIPTIVELY (not
    surface as an opaque cross-engine hash mismatch) unless the operator
    opts into the refit regime."""
    import pytest

    from limeqo_spark.pipeline import similarity
    from limeqo_spark.relational.registry import GateFailure

    monkeypatch.setattr(similarity, "_BITEXT_CELL_ROWS", 1)  # force nlist > floor
    monkeypatch.delenv("LIMEQO_BITEXT_REFIT", raising=False)
    monkeypatch.setattr(similarity, "BITEXT_REFIT_OK", False)
    with pytest.raises(GateFailure, match="oracle-pinned floor"):
        REGISTRY["embed_bitext_margin_mining_ann"].builder(spark, sf_dir)


def test_kmeans_fit_reseeds_are_distinct_and_deterministic():
    """Lloyd empty-cluster reseed: multiple clusters emptying in one
    iteration must reseed to DISTINCT points (the stale-d2 form collapsed
    them all onto the single farthest point), and the fit must be
    deterministic for a fixed seed."""
    import numpy as np

    from limeqo_spark.pipeline.similarity import _kmeans_fit

    rng = np.random.default_rng(0)
    y = rng.normal(size=(40, 4)) * 10.0
    # 4 identical init centers: iteration 1 assigns every point to center
    # 0 (argmin tie-break), so 3 clusters empty SIMULTANEOUSLY — the
    # exact multi-reseed case the stale-d2 bug collapsed to one point
    degenerate_init = np.repeat(y[:1], 4, axis=0)
    c1 = _kmeans_fit(y, 4, iters=8, init=degenerate_init)
    assert c1.shape == (4, 4) and np.isfinite(c1).all()
    assert len(np.unique(c1, axis=0)) == 4, "simultaneous reseeds collapsed"

    # the default k-means++ path: k=6 over 40 distinct points -> 6
    # distinct finite centroids, deterministic for a fixed seed
    c3 = _kmeans_fit(y, 6, seed=3)
    c4 = _kmeans_fit(y, 6, seed=3)
    assert np.array_equal(c3, c4), "fit is not deterministic for a fixed seed"
    assert len(np.unique(c3, axis=0)) == 6 and np.isfinite(c3).all()


def test_bitext_train_centers_above_floor(spark, sf_dir):
    """The above-floor refit trainer returns k finite, distinct 64-dim
    centroids, deterministically across calls (cache cleared between)."""
    import numpy as np

    from limeqo_spark.pipeline import similarity

    similarity._BITEXT_CENTER_CACHE.pop((sf_dir, 24), None)
    c1 = similarity._bitext_train_centers(spark, sf_dir, 24)
    similarity._BITEXT_CENTER_CACHE.pop((sf_dir, 24), None)
    c2 = similarity._bitext_train_centers(spark, sf_dir, 24)
    assert c1.shape == (24, 64) and np.isfinite(c1).all()
    assert np.array_equal(c1, c2)
    assert len(np.unique(c1, axis=0)) == 24


def test_distributed_ivf_refit_path(spark, sf_dir):
    """The 100 TB refit path stays executable: the MLlib KMeans trainer
    returns k finite 64-dim centroids without collecting vectors (only
    model coefficients reach the driver)."""
    import numpy as np

    from limeqo_spark.pipeline.similarity import train_ivf_centers_distributed

    c = train_ivf_centers_distributed(spark, sf_dir, k=8)
    assert c.shape == (8, 64)
    assert np.isfinite(c).all()


def test_minhash_mllib_recalls_planted_pairs(spark, sf_dir):
    """The MLlib MinHashLSH reference path (engine-specific hashes, so
    prop-checked here rather than oracle-hashed like the registered
    portable variant)."""
    from limeqo_spark.pipeline.dedup import minhash_mllib_pairs

    rows = minhash_mllib_pairs(spark, sf_dir).collect()
    pairs = {(r["a"], r["b"]) for r in rows}
    recall = len(pairs & PLANTED) / len(PLANTED)
    assert recall >= 0.95, f"MLlib MinHash recall {recall:.2f}"


def test_simhash_recalls_planted_pairs(spark, sf_dir):
    rows = REGISTRY["dedup_simhash"].builder(spark, sf_dir).collect()
    pairs = {(r["a"], r["b"]) for r in rows}
    recall = len(pairs & PLANTED) / len(PLANTED)
    assert recall >= 0.9, f"SimHash recall {recall:.2f}"


def test_ann_lsh_agrees_with_brute_force(spark, sf_dir):
    brute = REGISTRY["ann_cosine_topk"].builder(spark, sf_dir).collect()
    lsh = REGISTRY["ann_lsh_bucketed"].builder(spark, sf_dir).collect()
    top1_brute = {r["probe_id"]: r["vec_id"] for r in brute if r["rn"] == 1}
    brute_sets = {}
    for r in brute:
        brute_sets.setdefault(r["probe_id"], set()).add(r["vec_id"])
    lsh_sets = {}
    for r in lsh:
        lsh_sets.setdefault(r["probe_id"], set()).add(r["vec_id"])
    # bucketed candidates are a subset of the corpus; require decent overlap
    hits = sum(
        len(brute_sets[p] & lsh_sets.get(p, set())) for p in brute_sets
    )
    total = sum(len(s) for s in brute_sets.values())
    assert hits / total >= 0.3, f"LSH top-5 overlap only {hits}/{total}"
    assert len(lsh_sets) == len(top1_brute), "every probe must get candidates"


def test_exact_dedup_no_false_groups(spark, sf_dir):
    rows = REGISTRY["dedup_exact_keep_first"].builder(spark, sf_dir).collect()
    assert rows == [], "planted corpus has no exact dups; groups>1 are bugs"


def test_jaccard_finds_exactly_planted(spark, sf_dir):
    rows = REGISTRY["dedup_ngram_jaccard"].builder(spark, sf_dir).collect()
    pairs = {(r["a"], r["b"]) for r in rows}
    assert PLANTED <= pairs, "exact Jaccard must find every planted pair"
    for r in rows:
        assert r["jaccard"] >= 0.6


def test_multimodal_decode_stub_is_gated():
    from limeqo_spark.pipeline.multimodal import real_decode

    with pytest.raises(NotImplementedError):
        real_decode(b"xx", "image")


def test_ann_ivf_agrees_with_brute_force(spark, sf_dir):
    """IVF with nprobe=3/16 cells must keep high top-5 recall (planted
    near-identical vectors land in the same cell as their probe)."""
    brute = REGISTRY["ann_cosine_topk"].builder(spark, sf_dir).collect()
    ivf = REGISTRY["ann_ivf_topk"].builder(spark, sf_dir).collect()
    brute_sets, ivf_sets = {}, {}
    for r in brute:
        brute_sets.setdefault(r["probe_id"], set()).add(r["vec_id"])
    for r in ivf:
        ivf_sets.setdefault(r["probe_id"], set()).add(r["vec_id"])
    hits = sum(len(brute_sets[p] & ivf_sets.get(p, set())) for p in brute_sets)
    total = sum(len(s) for s in brute_sets.values())
    assert hits / total >= 0.8, f"IVF top-5 overlap only {hits}/{total}"
    assert len(ivf_sets) == len(brute_sets), "every probe must get candidates"


def test_ann_pq_agrees_with_brute_force(spark, sf_dir):
    """PQ-ADC (16 subspaces x 16 centroids, top-100 shortlist, exact rescore)
    must keep high top-5 recall vs brute force, and its compressed codes
    must be valid 4-bit indices (the 64x-compression claim)."""
    brute = REGISTRY["ann_cosine_topk"].builder(spark, sf_dir).collect()
    pq = REGISTRY["ann_pq_adc"].builder(spark, sf_dir).collect()
    brute_sets, pq_sets = {}, {}
    for r in brute:
        brute_sets.setdefault(r["probe_id"], set()).add(r["vec_id"])
    for r in pq:
        pq_sets.setdefault(r["probe_id"], set()).add(r["vec_id"])
    hits = sum(len(brute_sets[p] & pq_sets.get(p, set())) for p in brute_sets)
    total = sum(len(s) for s in brute_sets.values())
    assert hits / total >= 0.8, f"PQ top-5 overlap only {hits}/{total}"
    assert len(pq_sets) == len(brute_sets), "every probe must get candidates"


def test_pq_codes_valid_and_match_reference_expression(spark, sf_dir):
    """The Arrow-batch encoder agrees with the independent HOF-expression
    reference formulation (argmin of ||c||^2 - 2<s,c> vs summed squared
    differences), every code is a valid 4-bit index, and two runs are
    identical."""
    import pyspark.sql.functions as F

    from limeqo_spark.io import table
    from limeqo_spark.pipeline.similarity import (
        _PQ_K,
        _PQ_M,
        _pq_codebooks,
        _pq_codes_expr,
        _pq_encode_udf,
    )

    cb = _pq_codebooks()
    cb_lit = F.array(
        *[F.array(*[F.array(*[F.lit(float(v)) for v in c]) for c in sub]) for sub in cb]
    )
    e = table(spark, sf_dir, "embeddings").limit(200)
    ref = e.withColumn("cb", cb_lit).select("vec_id", F.expr(_pq_codes_expr()).alias("codes"))
    fast = e.select("vec_id", _pq_encode_udf(cb)(F.col("embedding")).alias("codes"))
    ref_rows = {r["vec_id"]: list(r["codes"]) for r in ref.collect()}
    fast_rows = {r["vec_id"]: list(r["codes"]) for r in fast.collect()}
    assert fast_rows == ref_rows
    assert fast_rows == {r["vec_id"]: list(r["codes"]) for r in fast.collect()}
    for codes in fast_rows.values():
        assert len(codes) == _PQ_M
        assert all(0 <= c < _PQ_K for c in codes)


def test_ann_ivfpq_agrees_with_brute_force(spark, sf_dir):
    """The IVFADC composition (pruned cells -> ADC over PQ codes -> exact
    rescore of the shortlist) must keep top-5 recall >= 0.8 vs brute force
    and self-assert its ranking."""
    brute = REGISTRY["ann_cosine_topk"].builder(spark, sf_dir).collect()
    ivfpq = REGISTRY["ann_ivfpq_partitioned"].builder(spark, sf_dir).collect()
    brute_sets, got_sets = {}, {}
    for r in brute:
        if r["probe_id"] < 3:  # ivfpq runs 3 probes (pruning visibility)
            brute_sets.setdefault(r["probe_id"], set()).add(r["vec_id"])
    for r in ivfpq:
        got_sets.setdefault(r["probe_id"], set()).add(r["vec_id"])
    hits = sum(len(brute_sets[p] & got_sets.get(p, set())) for p in brute_sets)
    total = sum(len(s) for s in brute_sets.values())
    assert hits / total >= 0.8, f"IVFPQ top-5 overlap only {hits}/{total}"
    assert len(got_sets) == len(brute_sets), "every probe must get candidates"


def test_ivf_partitioned_matches_ivf_and_prunes(spark, sf_dir):
    """The partitioned-layout IVF variant returns byte-identical results to
    ann_ivf_topk for the shared probes (same seeded centroids), and its
    physical plan proves STATIC partition pruning: the parquet scan carries
    a cell_id partition filter and reads fewer than nlist partitions."""
    from limeqo_spark.plans import explain_formatted

    part_df = REGISTRY["ann_ivf_partitioned"].builder(spark, sf_dir)
    part = part_df.collect()
    full = REGISTRY["ann_ivf_topk"].builder(spark, sf_dir).collect()
    shared_probes = {r["probe_id"] for r in part}
    assert shared_probes == {0, 1, 2}
    want = [
        (r["probe_id"], r["vec_id"], r["rn"], r["cos_sim"])
        for r in full
        if r["probe_id"] in shared_probes
    ]
    got = [(r["probe_id"], r["vec_id"], r["rn"], r["cos_sim"]) for r in part]
    assert got == want

    plan = explain_formatted(part_df)
    import re

    # >10 values renders as INSET (inSetConversionThreshold), <=10 as IN (...)
    m = re.search(
        r"PartitionFilters: \[cell_id#\d+ (?:IN \(([\d,]+)\)|INSET ([\d, ]+?)(?:,\s*isnotnull|\]))",
        plan,
    )
    assert m, "scan carries no static cell_id partition filter"
    n_cells = len((m.group(1) or m.group(2)).split(","))
    assert n_cells < 16, f"IN-list covers all {n_cells} cells — nothing pruned"


def test_corpus_shingle_df_under_cap(spark, sf_dir):
    """Guard for dedup_ngram_jaccard_capped's oracle contract: the capped
    variant shares the EXACT oracle, which is only sound while no shingle
    in the planted corpus exceeds the df cap (pairs overlapping solely in
    hot shingles would be blocked). If this fails after a corpus change,
    the capped query's oracle must switch to cap-aware semantics."""
    from pyspark.sql import functions as F

    from limeqo_spark.pipeline.corpus import planted_corpus, token_shingles

    sh = token_shingles(planted_corpus(spark, sf_dir), 3)
    max_df = (
        sh.groupBy("shingle").agg(F.count("*").alias("df"))
        .agg(F.max("df")).collect()[0][0]
    )
    assert max_df <= 50, f"corpus now has a shingle with df={max_df} > cap 50"


def test_shingles_short_docs_yield_empty_not_error(spark):
    """Documents with fewer than n tokens must contribute zero shingles.
    The naive sequence(0, size-n) idiom produced a descending [0,-1] for
    short docs and slice(t, 0, n) threw INVALID_PARAMETER_VALUE; the
    guarded CASE must return an empty array instead (matching the DuckDB
    generate_series oracle, which is empty when start > stop)."""
    from pyspark.sql import functions as F

    from limeqo_spark.pipeline.corpus import shingle_transform_sql, token_shingles

    corpus = spark.createDataFrame(
        [(1, "one two three four"), (2, "one two"), (3, "x"), (4, "")],
        "doc_id long, text string",
    )
    sh = token_shingles(corpus, 3).collect()
    by_doc = {}
    for r in sh:
        by_doc.setdefault(r["doc_id"], set()).add(r["shingle"])
    assert by_doc == {1: {"one two three", "two three four"}}

    # the 5-gram + md5-mapped variants used by text_* must also be guarded
    t = corpus.withColumn("t", F.split("text", " "))
    five = t.select(F.explode(F.expr(shingle_transform_sql("t", 5))).alias("g")).collect()
    assert five == []
    md5d = t.select(
        F.explode(
            F.expr(shingle_transform_sql("t", 3, "md5(concat_ws(' ', slice(t, i + 1, 3)))"))
        ).alias("h")
    ).collect()
    assert len(md5d) == 2  # only doc 1 has 3-token shingles


def test_upsert_latest_semantics(spark):
    """Changelog compaction: latest-wins per key with seq tie-break; a key
    whose LATEST change is a tombstone is dropped, but a delete followed by
    a re-insert survives (no permanent tombstone)."""
    from pyspark.sql import functions as F

    from limeqo_spark.pipeline.cdc import upsert_latest

    rows = [
        # key, seq, op, val
        (1, 1, "set", 10.0), (1, 2, "set", 11.0),              # plain upsert
        (2, 1, "set", 20.0), (2, 2, "del", 0.0),               # ends deleted
        (3, 1, "set", 30.0), (3, 2, "del", 0.0), (3, 3, "set", 31.0),  # resurrect
        (4, 5, "set", 40.0), (4, 5, "set", 41.0),              # seq tie -> undefined w/o tiebreak; add id
    ]
    df = spark.createDataFrame(
        [(k, s, o, v, i) for i, (k, s, o, v) in enumerate(rows)],
        "k long, seq long, op string, val double, chg_id long",
    )
    snap = upsert_latest(
        df, ["k"], ["seq", "chg_id"], ["op", "val"],
        delete_when=F.col("op") == "del",
    )
    got = {r.k: (r.op, r.val) for r in snap.collect()}
    assert got == {1: ("set", 11.0), 3: ("set", 31.0), 4: ("set", 41.0)}


def test_upsert_latest_plan_is_partial_aggregate(spark, sf_dir):
    """The compaction must plan as HashAggregate partial->final (map-side
    combine on hot keys), never as a ranking window sort."""
    from limeqo_spark.manifest import REGISTRY

    df = REGISTRY["cdc_upsert_latest"].builder(spark, sf_dir)
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan
    assert "partial_max_by" in plan


def test_capped_jaccard_matches_uncapped_when_cap_fires(spark):
    """On a corpus with genuinely hot shingles (boilerplate in every doc,
    df >> cap) the capped variant must still produce the exact uncapped
    pair set at tau: the hot-set correction restores the hot-shingle
    intersections that the capped inverted index skipped."""
    from limeqo_spark.pipeline.dedup import ngram_jaccard_pairs

    boiler = "the quick brown fox jumps over the lazy dog again"
    rows = []
    for i in range(120):
        uniq = " ".join(f"tok{i}x{j}" for j in range(10))
        rows.append((i, f"{uniq} {boiler}"))
        if i < 10:  # planted near-dup: one token changed
            dup = uniq.replace(f"tok{i}x9", "changed")
            rows.append((1000 + i, f"{dup} {boiler}"))
    corpus = spark.createDataFrame(rows, "doc_id long, text string")

    uncapped = ngram_jaccard_pairs(corpus, n=3, tau=0.6).collect()
    capped = ngram_jaccard_pairs(corpus, n=3, tau=0.6, max_doc_freq=50).collect()
    as_set = lambda rs: {(r["a"], r["b"], r["jaccard"]) for r in rs}
    assert len(uncapped) >= 10  # the planted pairs survived tau
    assert as_set(capped) == as_set(uncapped)

    # and the cap genuinely fired: boilerplate shingles exceed df 50
    from limeqo_spark.pipeline.corpus import token_shingles
    from pyspark.sql import functions as F

    max_df = (
        token_shingles(corpus, 3)
        .groupBy("shingle").agg(F.count("*").alias("df"))
        .agg(F.max("df")).collect()[0][0]
    )
    assert max_df > 50


def test_minhash_estimates_track_exact_jaccard(spark, sf_dir):
    """The 16-permutation estimate must track exact Jaccard on every pair
    both ops emit (deterministic given the fixed hash constants; measured
    max deviation 0.18 on the fixture — assert a 0.25 ceiling)."""
    mh = {
        (r["a"], r["b"]): r["est_jaccard"]
        for r in REGISTRY["dedup_minhash_lsh"].builder(spark, sf_dir).collect()
    }
    ex = {
        (r["a"], r["b"]): r["jaccard"]
        for r in REGISTRY["dedup_ngram_jaccard"].builder(spark, sf_dir).collect()
    }
    common = set(mh) & set(ex)
    assert len(common) >= PLANT_N  # the planted pairs at minimum
    for k in common:
        assert abs(mh[k] - ex[k]) <= 0.25, f"pair {k}: est {mh[k]} vs exact {ex[k]}"


def test_transform_with_state_gating(spark, sf_dir, ddb):
    """q66 (Spark 4 transformWithState arbitrary-state API) registers only
    where its hard dependency (google.protobuf, used by the Python state
    server) exists; where present it must match the batch oracle. Either
    way the builder stays importable — honest gating, no crashing manifest
    entry."""
    from limeqo_spark.manifest import REGISTRY as R
    from limeqo_spark.streaming.queries import _has_protobuf, q66

    assert callable(q66)
    if not _has_protobuf():
        assert "q66_transform_with_state" not in R
        import pytest as _pytest

        _pytest.skip("google.protobuf absent: transformWithState cannot run here")
    spec = R["q66_transform_with_state"]
    from limeqo_spark.testing import compare_frames

    ok, msg = compare_frames(
        spec.builder(spark, sf_dir).toPandas(), ddb.execute(spec.oracle).fetchdf()
    )
    assert ok, msg


def test_corpus_mix_quota_sample(spark, sf_dir, ddb):
    """Deterministic md5-rank quota sampling: quotas land exactly, doc
    selection matches the cross-engine oracle (same hashes), and re-running
    reproduces itself without any seed."""
    from limeqo_spark.pipeline.mix import MIX_QUOTAS
    from limeqo_spark.testing import compare_frames

    spec = REGISTRY["corpus_mix_quota_sample"]
    rows = spec.builder(spark, sf_dir).collect()
    per_lang = {}
    for r in rows:
        per_lang[r["lang"]] = per_lang.get(r["lang"], 0) + 1
    assert per_lang == MIX_QUOTAS
    ok, msg = compare_frames(
        spec.builder(spark, sf_dir).toPandas(), ddb.execute(spec.oracle).fetchdf()
    )
    assert ok, msg


def test_chunk_windows_cover_documents(spark, sf_dir):
    """Every document's chunks tile it: chunk count matches the stride
    formula, the last chunk is ragged (<= W tokens), all others are full
    W, and consecutive chunks overlap by W - S tokens."""
    from limeqo_spark.pipeline.mix import CHUNK_S, CHUNK_W

    rows = REGISTRY["corpus_chunk_windows"].builder(spark, sf_dir).collect()
    import math

    by_doc = {}
    for r in rows:
        by_doc.setdefault(r["doc_id"], []).append((r["chunk_id"], r["n_tokens"]))
    docs = {
        r["doc_id"]: r["n"]
        for r in spark.read.parquet(f"{sf_dir}/documents.parquet")
        .selectExpr("doc_id", "size(split(text, ' ')) AS n")
        .collect()
    }
    for doc_id, chunks in by_doc.items():
        n = docs[doc_id]
        want = 1 if n <= CHUNK_W else 1 + math.ceil((n - CHUNK_W) / CHUNK_S)
        assert len(chunks) == want, f"doc {doc_id}: {len(chunks)} != {want}"
        chunks.sort()
        for cid, ntok in chunks[:-1]:
            assert ntok == CHUNK_W
        last_id, last_n = chunks[-1]
        assert 0 < last_n <= CHUNK_W
        assert last_id * CHUNK_S + last_n == n, "chunks must end at the doc end"


def test_pack_bins_respect_budget_shape(spark, sf_dir):
    """Start-offset packing: every bin holds >= 1 doc; within each lang,
    bin ids are contiguous from 0 and all bins except the last carry at
    least the budget minus one max-doc of tokens (a doc spanning the
    boundary starts in the earlier bin)."""
    from limeqo_spark.pipeline.mix import PACK_BUDGET

    rows = REGISTRY["corpus_pack_bins"].builder(spark, sf_dir).collect()
    by_lang = {}
    for r in rows:
        by_lang.setdefault(r["lang"], []).append((r["bin_id"], r["n_docs"], r["total_tokens"]))
    assert by_lang, "packing produced no bins"
    for lang, bins in by_lang.items():
        bins.sort()
        assert [b[0] for b in bins] == list(range(len(bins))), f"{lang}: bin gap"
        for _, n_docs, total in bins:
            assert n_docs >= 1 and total > 0
        # all but the final bin must reach into the budget region
        for _, _, total in bins[:-1]:
            assert total >= PACK_BUDGET * 0.5, f"{lang}: suspiciously light bin"


def test_tfidf_rounding_boundary_margin(sf_dir):
    """Guard for text_tfidf_top_terms' hash-parity contract: the ranking is
    integer-exact by construction, but the emitted ROUND(tfidf, 4) could
    still diverge if a score sat on a half-way rounding boundary and the
    engines' LN differed by an ulp. Verify every fixture score clears the
    boundary by a wide margin."""
    import numpy as np
    import pyarrow.parquet as pq

    toks = pq.read_table(f"{sf_dir}/documents.parquet").to_pandas()
    n_docs = len(toks)
    tf: dict[tuple[int, str], int] = {}
    df_: dict[str, set] = {}
    for doc_id, text in zip(toks["doc_id"], toks["text"]):
        for term in str(text).split(" "):
            tf[(doc_id, term)] = tf.get((doc_id, term), 0) + 1
            df_.setdefault(term, set()).add(doc_id)
    scores = np.array(
        [t * np.log((n_docs + 1.0) / (len(df_[term]) + 1.0)) for (_, term), t in tf.items()]
    )
    frac = np.abs(scores * 1e4 - np.floor(scores * 1e4) - 0.5)
    assert frac.min() > 1e-6, "a tf-idf score sits on a 4-dp rounding boundary"


def test_chunk_dedup_reconstruction_roundtrip(spark, sf_dir):
    """Invariant for dedup_chunk_reconstruct: a document none of whose
    chunks was dropped (n_kept == n_chunks) must rebuild to EXACTLY its
    original bytes — the slice/concat_ws reconstruction is lossless on the
    single-spaced fixture corpus. Docs that did lose chunks must rebuild
    to something shorter (fewer kept chunks)."""
    import hashlib

    from limeqo_spark.pipeline.dedup import dedup_chunk_reconstruct

    out = {r["doc_id"]: r for r in dedup_chunk_reconstruct(spark, sf_dir).collect()}
    originals = {
        r["doc_id"]: r["text"]
        for r in spark.read.parquet(f"{sf_dir}/documents.parquet").collect()
    }
    intact = dropped = 0
    for doc_id, row in out.items():
        md5_orig = hashlib.md5(originals[doc_id].encode()).hexdigest()
        if row["n_kept"] == row["n_chunks"]:
            intact += 1
            assert row["dedup_md5"] == md5_orig, f"doc {doc_id} not lossless"
        else:
            dropped += 1
            assert row["dedup_md5"] != md5_orig
    assert intact > 0 and dropped > 0, (intact, dropped)


def test_mllib_idf_pipeline_matches_sql_tfidf(spark, sf_dir):
    """B40 tie-in: the MLlib feature pipeline (RegexTokenizer ->
    CountVectorizer -> IDF) must agree with the SQL-expression tf-idf
    (`text_tfidf_top_terms`) on document frequencies and IDF weights —
    two implementations of the same math, one vectorized JVM-side for ML
    consumers, one pure Spark SQL for the oracle-checked manifest. MLlib's
    IDF is ln((N+1)/(df+1)) — identical smoothing to ours."""
    import math

    from pyspark.ml.feature import CountVectorizer, RegexTokenizer

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    n_docs = docs.count()
    tok = RegexTokenizer(inputCol="text", outputCol="toks", pattern=" ")
    toks = tok.transform(docs)
    cv = CountVectorizer(inputCol="toks", outputCol="tf", minDF=1.0).fit(toks)

    # document frequencies via the SQL path
    from pyspark.sql import functions as F

    sql_df = {
        r["term"]: r["df"]
        for r in (
            docs.select("doc_id", F.explode(F.split("text", " ")).alias("term"))
            .groupBy("doc_id", "term").count()
            .groupBy("term").count()
            .withColumnRenamed("count", "df")
            .collect()
        )
    }
    # MLlib document frequency: count docs whose CountVectorizer row has
    # the term's slot non-zero
    import numpy as np

    rows = cv.transform(toks).select("tf").collect()
    mllib_df = np.zeros(len(cv.vocabulary))
    for r in rows:
        mllib_df[r["tf"].indices] += 1
    for slot, term in enumerate(cv.vocabulary):
        assert sql_df[term] == int(mllib_df[slot]), term
        idf_sql = math.log((n_docs + 1.0) / (sql_df[term] + 1.0))
        idf_mllib = math.log((n_docs + 1.0) / (mllib_df[slot] + 1.0))
        assert abs(idf_sql - idf_mllib) < 1e-12


def test_split_train_holdout_fractions_and_determinism(spark, sf_dir):
    """Hash split: every doc lands in exactly one split, fractions are
    within binomial noise of 80/10/10, and membership is a pure function
    of doc_id (two runs agree row-for-row without a seed)."""
    spec = REGISTRY["corpus_split_train_holdout"]
    rows = spec.builder(spark, sf_dir).collect()
    n = len(rows)
    docs = {r["doc_id"] for r in rows}
    assert len(docs) == n  # one split per document
    frac = {
        s: sum(1 for r in rows if r["split"] == s) / n
        for s in ("train", "val", "test")
    }
    assert abs(frac["train"] - 0.8) < 0.08
    assert abs(frac["val"] - 0.1) < 0.06
    assert abs(frac["test"] - 0.1) < 0.06
    again = {(r["doc_id"], r["split"]) for r in spec.builder(spark, sf_dir).collect()}
    assert again == {(r["doc_id"], r["split"]) for r in rows}


def test_temperature_resample_rebalances_toward_sqrt(spark, sf_dir):
    """Square-root temperature sampling: realized per-language copy totals
    hit the integer targets exactly (sum target//n + remainder docs), the
    head language is down-sampled, low-resource languages are up-sampled,
    and the grand total stays within n_langs of the document budget
    (floor losses only)."""
    import math

    from limeqo_spark.io import table
    from pyspark.sql import functions as F

    spec = REGISTRY["corpus_temperature_resample"]
    out = spec.builder(spark, sf_dir)
    per_lang = {
        r["lang"]: r["copies"]
        for r in out.groupBy("lang").agg(F.sum("n_copies").alias("copies")).collect()
    }
    counts = {
        r["lang"]: r["n"]
        for r in table(spark, sf_dir, "documents")
        .groupBy("lang")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    total = sum(counts.values())
    weights = {k: math.floor(math.sqrt(v) * 1000) for k, v in counts.items()}
    wsum = sum(weights.values())
    targets = {k: total * w // wsum for k, w in weights.items()}
    assert per_lang == targets
    head = max(counts, key=counts.get)
    tail = min(counts, key=counts.get)
    assert per_lang[head] < counts[head]  # head down-sampled
    assert per_lang[tail] > counts[tail]  # tail up-sampled
    assert total - len(counts) <= sum(per_lang.values()) <= total


def test_shuffle_shards_cover_corpus_and_balance(spark, sf_dir):
    """Hash-range sharding: shard stats cover every document exactly once,
    shard ids are dense in [0, N_SHARDS), and the md5 split is roughly
    balanced (uniform hash -> no shard above 2x the mean)."""
    from limeqo_spark.io import table
    from limeqo_spark.pipeline.curation import N_SHARDS

    spec = REGISTRY["corpus_shuffle_shards"]
    rows = spec.builder(spark, sf_dir).collect()
    assert {r["shard_id"] for r in rows} == set(range(N_SHARDS))
    n_docs = table(spark, sf_dir, "documents").count()
    assert sum(r["n_docs"] for r in rows) == n_docs
    mean = n_docs / N_SHARDS
    assert max(r["n_docs"] for r in rows) < 2 * mean
    # digests are per-shard order fingerprints: all distinct
    assert len({r["order_digest"] for r in rows}) == N_SHARDS


def test_substring_spans_catch_planted_full_doc_dups(spark, sf_dir):
    """Substring-span dedup: every planted (original, clone) pair shares
    the original's full text, so both members must report a span starting
    at token 0 whose length equals the original's token count (the clone's
    appended token is not duplicated and stays outside the span); spans
    within a document never overlap."""
    from limeqo_spark.io import table
    from limeqo_spark.pipeline.corpus import PLANT_N, PLANT_OFFSET
    from limeqo_spark.pipeline.dedup import SUBSTR_K
    from pyspark.sql import functions as F

    rows = REGISTRY["dedup_substring_spans"].builder(spark, sf_dir).collect()
    tok_counts = {
        r["doc_id"]: r["n"]
        for r in table(spark, sf_dir, "documents")
        .select("doc_id", F.size(F.split("text", " ")).alias("n"))
        .filter(F.col("doc_id") < PLANT_N)
        .collect()
    }
    spans = {}
    for r in rows:
        spans.setdefault(r["doc_id"], []).append(
            (r["span_start"], r["span_len_tokens"])
        )
    for doc_id, n in tok_counts.items():
        if n < SUBSTR_K:
            continue  # too short to form a gram
        for member in (doc_id, doc_id + PLANT_OFFSET):
            member_spans = spans.get(member, [])
            assert (0, n) in member_spans, (member, n, member_spans)
    for doc_spans in spans.values():
        doc_spans.sort()
        for (s1, l1), (s2, _) in zip(doc_spans, doc_spans[1:]):
            assert s1 + l1 <= s2 + SUBSTR_K - 1  # islands: gap of >= 1 gram


def test_sketch_profile_estimates_within_tolerance(spark, sf_dir):
    """HLL distinct-token and KLL doc-length estimates sit within their
    published tolerances of the exact values for every language (the ok
    flags the generic prop gate also asserts), and the estimates are
    non-degenerate (positive, ordered p50 <= p90)."""
    rows = REGISTRY["corpus_sketch_profile"].builder(spark, sf_dir).collect()
    assert len(rows) == 5
    for r in rows:
        assert r["hll_ok"] and r["kll_ok"], r
        assert r["hll_distinct"] > 0
        assert 0 < r["kll_p50"] <= r["kll_p90"]


def test_count_min_sketch_bounds_token_frequencies(spark, sf_dir):
    """Count-Min sketch over corpus tokens: the CMS estimate never
    undercounts (structural guarantee) and overshoots by at most
    eps * total_tokens for the most frequent tokens. The sketch binary is
    built by the distributed ``count_min_sketch`` aggregate (mergeable
    partials) and decoded via Spark's own CountMinSketch reader."""
    from pyspark.sql import functions as F

    from limeqo_spark.io import table

    toks = table(spark, sf_dir, "documents").select(
        F.explode(F.split("text", " ")).alias("tok")
    )
    eps, conf = 0.001, 0.99
    row = toks.agg(
        F.count_min_sketch(
            "tok", F.lit(eps), F.lit(conf), F.lit(42)
        ).alias("cms"),
        F.count("*").alias("n"),
    ).collect()[0]
    total = row["n"]
    jvm = spark.sparkContext._jvm
    bis = jvm.java.io.ByteArrayInputStream(bytes(row["cms"]))
    cms = jvm.org.apache.spark.util.sketch.CountMinSketch.readFrom(bis)
    top = (
        toks.groupBy("tok").count().orderBy(F.desc("count"), "tok").limit(20).collect()
    )
    for r in top:
        est = cms.estimateCount(r["tok"])
        assert est >= r["count"], (r["tok"], est, r["count"])
        assert est <= r["count"] + eps * total, (r["tok"], est, r["count"])


def test_e2e_curate_chain_consistency(spark, sf_dir):
    """The composed curation chain must agree with its constituent
    operators: selected docs are a subset of the train split, every
    language's copy total matches the chain's own sqrt-temperature target
    over the chain's survivors, and total tokens are consistent with the
    per-doc counts."""
    from pyspark.sql import functions as F

    from limeqo_spark.io import table
    from limeqo_spark.pipeline.curation import E2E_MAX_TOK, E2E_MIN_TOK

    out = {r["lang"]: r for r in REGISTRY["pipeline_e2e_curate"].builder(spark, sf_dir).collect()}
    splits = {
        r["doc_id"]: r["split"]
        for r in REGISTRY["corpus_split_train_holdout"].builder(spark, sf_dir).collect()
    }
    docs = table(spark, sf_dir, "documents").select(
        "doc_id", "lang", F.size(F.split("text", " ")).alias("n")
    ).collect()
    # chain survivors: length-filtered, exact-deduped (fixture is
    # all-distinct so dedup is identity), train-split members
    surv = [
        r for r in docs
        if E2E_MIN_TOK <= r["n"] <= E2E_MAX_TOK and splits[r["doc_id"]] == "train"
    ]
    per_lang_n = {}
    for r in surv:
        per_lang_n[r["lang"]] = per_lang_n.get(r["lang"], 0) + 1
    import math

    total = sum(per_lang_n.values())
    w = {k: math.floor(math.sqrt(v) * 1000) for k, v in per_lang_n.items()}
    wsum = sum(w.values())
    for lang, row in out.items():
        target = total * w[lang] // wsum
        assert row["n_copies"] == target, (lang, row["n_copies"], target)
        assert row["n_docs"] <= per_lang_n[lang]


def test_streaming_checkpoint_recovery_exactly_once(spark, sf_dir, tmp_path):
    """Exactly-once across a restart: a stateful streaming dedup
    (dropDuplicates on event_id) writes to a parquet sink with a
    checkpoint; the stream is stopped, the source gains a second file
    that OVERLAPS the first, and the restarted query — same checkpoint,
    same sink — must neither reprocess file 1 nor re-emit the overlap
    (the dedup state survives the restart). Sink rows therefore equal the
    distinct event_ids across both files, with zero duplicate rows."""
    import os

    from pyspark.sql import functions as F

    from limeqo_spark.io import table

    src, sink, ck = (str(tmp_path / d) for d in ("src", "sink", "ck"))
    os.makedirs(src)
    ev = table(spark, sf_dir, "events").select("event_id", "user_id")
    ev.filter(F.col("event_id") < 500).coalesce(1).write.parquet(
        os.path.join(src, "b1.parquet")
    )
    schema = ev.schema

    def run_once():
        q = (
            spark.readStream.schema(schema)
            .option("recursiveFileLookup", "true")
            .parquet(src)
            .dropDuplicates(["event_id"])
            .writeStream.format("parquet")
            .option("path", sink)
            .option("checkpointLocation", ck)
            .trigger(availableNow=True)
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()

    run_once()
    n_phase1 = spark.read.parquet(sink).count()
    assert n_phase1 == ev.filter(F.col("event_id") < 500).count()
    # overlap 250-749: 250 already-seen ids + new ones
    ev.filter(F.col("event_id").between(250, 749)).coalesce(1).write.parquet(
        os.path.join(src, "b2.parquet")
    )
    run_once()
    out = spark.read.parquet(sink)
    expected = ev.filter(F.col("event_id") < 750).count()
    assert out.count() == expected, "restart re-emitted or dropped rows"
    assert out.select("event_id").distinct().count() == expected


def test_substring_spans_cover_every_duplicated_gram(spark, sf_dir):
    """Completeness invariant of the suffix-array method: EVERY occurrence
    of EVERY corpus-duplicated 8-gram must lie inside some reported span
    (so removing the spans removes all duplicated substrings; no seam
    artifacts because coverage is asserted on the original positions)."""
    from collections import defaultdict

    from limeqo_spark.pipeline.corpus import planted_corpus
    from limeqo_spark.pipeline.dedup import SUBSTR_K

    docs = {
        r["doc_id"]: r["text"].split(" ")
        for r in planted_corpus(spark, sf_dir).collect()
    }
    occurrences = defaultdict(list)
    for doc_id, toks in docs.items():
        for pos in range(len(toks) - SUBSTR_K + 1):
            occurrences[" ".join(toks[pos : pos + SUBSTR_K])].append((doc_id, pos))
    spans = defaultdict(list)
    for r in REGISTRY["dedup_substring_spans"].builder(spark, sf_dir).collect():
        spans[r["doc_id"]].append((r["span_start"], r["span_len_tokens"]))
    uncovered = 0
    for gram, occ in occurrences.items():
        if len(occ) < 2:
            continue
        for doc_id, pos in occ:
            inside = any(
                s <= pos and pos + SUBSTR_K <= s + ln for s, ln in spans[doc_id]
            )
            if not inside:
                uncovered += 1
    assert uncovered == 0, f"{uncovered} duplicated-gram occurrences uncovered"


def test_stream_neardup_recalls_planted_and_matches_batch(spark, sf_dir):
    """The streaming MinHash dedup must (a) recall every planted
    (original, clone) pair — clones arrive a micro-batch after their
    originals — and (b) agree exactly with the batch LSH operator on
    cross-wave pairs (same signatures, same banding, same verification)."""
    from limeqo_spark.pipeline.corpus import PLANT_N, PLANT_OFFSET

    stream_pairs = {
        (r["a"], r["b"]): r["est_jaccard"]
        for r in REGISTRY["q96_stream_neardup_minhash"].builder(spark, sf_dir).collect()
    }
    for i in range(PLANT_N):
        assert (i, i + PLANT_OFFSET) in stream_pairs, f"planted pair {i} missed"
    batch_cross = {
        (r["a"], r["b"]): r["est_jaccard"]
        for r in REGISTRY["dedup_minhash_lsh"].builder(spark, sf_dir).collect()
        if r["a"] < PLANT_OFFSET <= r["b"]
    }
    assert stream_pairs == batch_cross


def test_quality_classifier_discovers_corruption(spark, sf_dir):
    """The learned quality filter must separate planted corruption on the
    held-out fold (AUC >= 0.9) and attribute it to a corruption-bearing
    feature — labels come from the plant, so this is genuine discovery,
    not feature-label circularity."""
    row = (
        REGISTRY["text_quality_classifier"].builder(spark, sf_dir).collect()[0]
    )
    assert row["auc"] >= 0.9
    assert row["top_feature"] in ("digit_ratio", "distinct_ratio")
    assert row["n_train"] > row["n_test"] > 0


def test_cluster_best_quality_keeper_semantics(spark, sf_dir):
    """Quality-aware keeper, checked against INDEPENDENTLY recomputed
    ground truth (not the query's own q_score output): quality is
    recomputed from the raw planted-corpus text in Python, the expected
    keeper of every cluster is the argmax of that recomputation, and —
    because each planted clone carries one extra digit-free token
    (' zzzdup') — the CLONE must beat its original wherever the pair is
    a two-member cluster."""
    from limeqo_spark.pipeline.corpus import PLANT_N, PLANT_OFFSET, planted_corpus

    quality = {
        r["doc_id"]: len(r["text"].split(" "))
        - sum(ch.isdigit() for ch in r["text"])
        for r in planted_corpus(spark, sf_dir).collect()
    }
    rows = REGISTRY["dedup_cluster_best_quality"].builder(spark, sf_dir).collect()
    by_cluster = {}
    for r in rows:
        # independently verify the emitted score before leaning on it
        assert r["q_score"] == quality[r["doc_id"]], r
        by_cluster.setdefault(r["keeper_id"], []).append(r)
    clustered = {r["doc_id"] for r in rows}
    for keeper_id, members in by_cluster.items():
        keepers = [r for r in members if r["keep"]]
        assert len(keepers) == 1 and keepers[0]["doc_id"] == keeper_id
        expected = max(members, key=lambda r: (quality[r["doc_id"]], -r["doc_id"]))
        assert keeper_id == expected["doc_id"]
    for i in range(PLANT_N):
        clone = i + PLANT_OFFSET
        if i in clustered and clone in clustered:
            pair = [r for r in rows if r["doc_id"] in (i, clone)]
            if {r["keeper_id"] for r in pair} == {pair[0]["keeper_id"]} and len(
                [r for r in rows if r["keeper_id"] == pair[0]["keeper_id"]]
            ) == 2:
                # two-member planted cluster: the clone's +1 token wins
                assert pair[0]["keeper_id"] == clone


def test_ann_recall_gate_all_methods_clear_their_bars(spark, sf_dir):
    """The driver-visible gate must report every approximate path over its
    bar, and the IVF/PQ family specifically over the suite's 0.8 recall
    floor (the gate is only useful if its bars match the local invariants)."""
    rows = REGISTRY["ann_recall_gate"].builder(spark, sf_dir).collect()
    got = {r["method"]: r for r in rows}
    assert set(got) == {
        "lsh_bucketed", "ivf_topk", "ivf_partitioned", "pq_adc", "ivfpq_partitioned",
    }
    for m, r in got.items():
        assert r["ok"], f"{m} recall {r['recall']} under bar {r['bar']}"
    for m in ("ivf_topk", "ivf_partitioned", "pq_adc", "ivfpq_partitioned"):
        assert got[m]["recall"] >= 0.8


def test_embed_quantize_zero_vector_guard(spark, tmp_path):
    """embed_quantize_int8's scale=0 branch (an all-zero vector would
    otherwise divide by zero) — the fixtures contain no zero vectors, so
    drive the REAL builder and its REAL oracle on a synthetic corpus that
    does, including a negative-heavy vector (floor(v+0.5) rounding must
    agree on negatives too)."""
    import duckdb

    from limeqo_spark.testing import compare_frames

    rows = [
        (0, [0.0] * 4, 1),
        (1, [-1.5, 0.25, -0.75, 1.0], 1),
        (2, [1e-7, -1e-7, 0.0, 0.5], 2),
    ]
    sf_dir = str(tmp_path / "sf_zero")
    spark.createDataFrame(
        rows, "vec_id bigint, embedding array<float>, label int"
    ).coalesce(1).write.mode("overwrite").parquet(f"{sf_dir}/embeddings.parquet")
    spec = __import__("limeqo_spark.manifest", fromlist=["REGISTRY"]).REGISTRY[
        "embed_quantize_int8"
    ]
    con = duckdb.connect()
    # Spark writes a parquet DIRECTORY; DuckDB needs the part-file glob
    con.execute(
        "CREATE VIEW embeddings AS SELECT * FROM "
        f"read_parquet('{sf_dir}/embeddings.parquet/*.parquet')"
    )
    sp = spec.builder(spark, sf_dir).toPandas()
    od = con.execute(spec.oracle).fetchdf()
    ok, msg = compare_frames(sp, od)
    assert ok, msg
    zero_row = sp[sp.vec_id == 0].iloc[0]
    assert zero_row["scale_fp6"] == 0
    assert zero_row["qvec_csv"] == "0,0,0,0"
    assert zero_row["max_err_fp6"] == 0


def test_power_iteration_converges_to_svd_direction(spark, sf_dir):
    """embed_power_iteration_pc1's math claim, checked against numpy SVD:
    three fixed-point rounds over the planted-shift matrix must align
    with the true dominant right singular vector (cosine >= 0.99) — the
    hash oracle pins exactness, this pins that the exact iterate is the
    RIGHT iterate."""
    import duckdb
    import numpy as np

    from limeqo_spark.manifest import REGISTRY
    from limeqo_spark.pipeline.similarity import PLANT_DIMS, PLANT_SHIFT

    emb = (
        duckdb.connect()
        .execute(
            f"SELECT embedding FROM '{sf_dir}/embeddings.parquet' ORDER BY vec_id"
        )
        .fetchnumpy()["embedding"]
    )
    X = np.floor(np.stack([np.array(e, dtype=np.float64) for e in emb]) * 1e6 + 0.5)
    X[:, :PLANT_DIMS] += PLANT_SHIFT
    _, _, Vt = np.linalg.svd(X, full_matrices=False)
    out = (
        REGISTRY["embed_power_iteration_pc1"].builder(spark, sf_dir).toPandas()
    )
    v = out.sort_values("dim")["v_fp6"].values.astype(np.float64)
    cos = abs(v @ Vt[0]) / (np.linalg.norm(v) * np.linalg.norm(Vt[0]))
    assert cos >= 0.99, cos


def test_er_canonical_covers_hot_block_names(spark, tmp_path):
    """Regression (r8 code review): the BLOCK_CAP guard must bound the
    PAIRING stage only — a name in a hot block (> BLOCK_CAP distinct
    names sharing a first token) still appears in canonicalization
    output, self-canonical, exactly as the oracle's uncapped names CTE
    demands. The fixtures can't surface this (their blocks stay under
    the cap), so drive both engines on a corpus with one genuinely hot
    block."""
    import duckdb

    from limeqo_spark.pipeline.er import BLOCK_CAP
    from limeqo_spark.testing import compare_frames

    rows = [(i, f"hot name{i:04d}") for i in range(BLOCK_CAP + 10)]
    rows += [(9000, "cool widget"), (9001, "cool widgey"), (9002, "cool gadget")]
    sf_dir = str(tmp_path / "sf_hot")
    spark.createDataFrame(rows, "p_partkey bigint, p_name string").coalesce(
        1
    ).write.mode("overwrite").parquet(f"{sf_dir}/part.parquet")
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW part AS SELECT * FROM "
        f"read_parquet('{sf_dir}/part.parquet/*.parquet')"
    )
    spec = __import__("limeqo_spark.manifest", fromlist=["REGISTRY"]).REGISTRY[
        "er_canonical_entities"
    ]
    sp = spec.builder(spark, sf_dir).toPandas()
    od = con.execute(spec.oracle).fetchdf()
    ok, msg = compare_frames(sp, od)
    assert ok, msg
    # every hot-block name is present and self-canonical
    hot = sp[sp.name.str.startswith("hot ")]
    assert len(hot) == BLOCK_CAP + 10
    assert (hot.name == hot.canonical_name).all()
    # the cool block still matches within levenshtein <= 4
    assert (
        sp.loc[sp.name == "cool widgey", "canonical_name"].iloc[0] == "cool gadget"
        or sp.loc[sp.name == "cool widgey", "canonical_name"].iloc[0] == "cool widget"
    )


def test_pareto_and_twap_survive_overflow_scale(spark, tmp_path):
    """Regression (r8 review, confirmed by execution pre-fix): with plain
    bigint math, supplier_spend_pareto's cum_bps multiply overflowed past
    ~$9.2T total spend — Spark (ANSI) threw ARITHMETIC_OVERFLOW while the
    DuckDB oracle silently widened to HUGEINT and returned rows. Both
    sides now widen explicitly; drive them on a corpus the fixtures can't
    reach (10 suppliers x $2e12 line items) and a TWAP stream whose
    per-user product SUM exceeds Long.MAX."""
    import duckdb
    import pandas as pd

    from limeqo_spark.manifest import REGISTRY
    from limeqo_spark.testing import compare_frames

    sf_dir = str(tmp_path / "sf_overflow")
    li = spark.createDataFrame(
        [(i, i % 10 + 1, 2.0e12) for i in range(100)],
        "l_orderkey bigint, l_suppkey bigint, l_extendedprice double",
    )
    li.coalesce(1).write.mode("overwrite").parquet(f"{sf_dir}/lineitem.parquet")
    # TWAP: one user, 40 intervals of ~1e13 us at 5e7 cents ->
    # sum(cents*dur) ~ 2e22 >> Long.MAX, each product ~5e20 < HUGEINT
    # varied huge values: exercises the z-score filter's widened algebra
    # too (9*n*(n*s2 - s^2) crosses 2^63 around cents ~1.1e7; these sit
    # at ~5e7 with real variance so flags actually fire or not — either
    # way both engines must agree instead of Spark aborting)
    rows = [
        (i, pd.Timestamp("2024-01-01") + pd.Timedelta(microseconds=int(i * 1.0e13)),
         1, "view", 500_000.0 + (i % 7) * 9_137.25 + (250_000.0 if i % 13 == 0 else 0.0), "{}")
        for i in range(41)
    ]
    ev = spark.createDataFrame(
        pd.DataFrame(rows, columns=["event_id", "ts", "user_id", "event_type", "value", "props"])
    )
    ev.coalesce(1).write.mode("overwrite").parquet(f"{sf_dir}/events.parquet")
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW lineitem AS SELECT * FROM read_parquet('{sf_dir}/lineitem.parquet/*.parquet')"
    )
    con.execute(
        f"CREATE VIEW events AS SELECT * FROM read_parquet('{sf_dir}/events.parquet/*.parquet')"
    )
    from limeqo_spark.relational.queries_events import (
        ZSCORE_ORACLE_SQL,
        events_zscore,
    )

    # the flat z-score form is a test-only reference since r11 (demoted
    # from the manifest, VERDICT r10 #4) — exercised here directly
    cases = [
        (n, REGISTRY[n].builder, REGISTRY[n].oracle)
        for n in (
            "supplier_spend_pareto",
            "events_twap_per_user",
            "events_zscore_anomaly_bucketed",
        )
    ] + [("events_zscore_flat_testonly", events_zscore, ZSCORE_ORACLE_SQL)]
    for name, builder, oracle in cases:
        sp = builder(spark, sf_dir).toPandas()
        od = con.execute(oracle).fetchdf()
        ok, msg = compare_frames(sp, od)
        assert ok, f"{name}: {msg}"
        if not name.startswith("events_zscore"):
            assert len(sp) > 0


def test_string_battery_and_udtf_on_nulls_and_double_spaces(spark, tmp_path):
    """Regression (r8 review): q28's tag/trimmed NULL semantics and q52's
    empty-token handling diverged from their oracles on inputs the
    all-populated single-spaced fixture can never produce — a NULL p_type
    and a double-spaced p_name."""
    import duckdb

    from limeqo_spark.manifest import REGISTRY
    from limeqo_spark.testing import compare_frames

    sf_dir = str(tmp_path / "sf_nulls")
    spark.createDataFrame(
        [
            (1, "small  ring", "Brand#13", None),
            (2, "red widget", None, "PROMO"),
            (3, " padded name ", "Brand#42", "STANDARD"),
        ],
        "p_partkey bigint, p_name string, p_brand string, p_type string",
    ).coalesce(1).write.mode("overwrite").parquet(f"{sf_dir}/part.parquet")
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW part AS SELECT * FROM "
        f"read_parquet('{sf_dir}/part.parquet/*.parquet')"
    )
    for name in ("q28_string_battery", "q52_python_udtf_lateral"):
        spec = REGISTRY[name]
        sp = spec.builder(spark, sf_dir).toPandas()
        od = con.execute(spec.oracle).fetchdf()
        ok, msg = compare_frames(sp, od)
        assert ok, f"{name}: {msg}"


def test_q109_corrupt_rows_quarantine_not_leak(spark, sf_dir):
    """The corrupt-record contract behind q109: a planted malformed line
    lands WHOLE in the corrupt column with every data column NULL (no
    partial parse leaks into the data), valid lines parse with the
    corrupt column NULL, and the split is exhaustive."""
    import pyarrow.parquet as pq

    from limeqo_spark.io import scratch_dir
    from pyspark.sql import functions as F

    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    lines = d.select(
        F.when(
            F.col("doc_id") % 7 == 3,
            F.concat(F.lit('{"doc_id": '), F.col("doc_id"), F.lit(', "broken"')),
        )
        .otherwise(F.to_json(F.struct("doc_id", "lang", "n_chars")))
        .alias("value")
    )
    out = scratch_dir(prefix="limeqo_q109_test_")
    lines.write.mode("overwrite").text(out)
    parsed = (
        spark.read.schema("doc_id long, lang string, n_chars long, _corrupt string")
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt")
        .json(out)
        .localCheckpoint(eager=True)
    )
    total = pq.read_table(f"{sf_dir}/documents.parquet").num_rows
    rows = parsed.collect()
    assert len(rows) == total
    n_corrupt = 0
    for r in rows:
        if r["_corrupt"] is not None:
            n_corrupt += 1
            assert r["lang"] is None and r["n_chars"] is None, (
                f"partial parse leaked into data columns: {r}"
            )
            assert r["_corrupt"].endswith('"broken"'), r["_corrupt"]
        else:
            assert r["doc_id"] is not None and r["doc_id"] % 7 != 3
    pdf = pq.read_table(f"{sf_dir}/documents.parquet").to_pandas()
    assert n_corrupt == int((pdf.doc_id % 7 == 3).sum())


def test_pq_adc_topk_kernel_digest_is_exact(sf_dir):
    """Focused guard for the r12 mapInArrow digest kernel: splitting the
    corpus into multiple Arrow batches and keeping only the running
    per-probe top-k must reproduce EXACTLY the brute-force ADC ranking
    (same doubles, same (adc_cos DESC, vec_id ASC) order) that the r11
    posexplode+window path fed the shortlist."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    from limeqo_spark.pipeline.similarity import (
        N_PROBES,
        _PQ_M,
        _PQ_SHORTLIST,
        _PQ_SUB,
        _pq_adc_topk_kernel,
        _pq_codebooks,
    )

    tbl = pq.read_table(f"{sf_dir}/embeddings.parquet").select(["vec_id", "embedding"])
    x = np.array(tbl.to_pandas()["embedding"].tolist(), dtype=np.float64)
    vec_ids = tbl.to_pandas()["vec_id"].to_numpy()
    cb = _pq_codebooks()
    probe_rows = np.argsort(vec_ids)[: N_PROBES]
    probe_ids = [int(vec_ids[i]) for i in np.sort(probe_rows)]
    pv = np.stack([x[np.where(vec_ids == p)[0][0]] for p in probe_ids])
    luts = np.einsum(
        "pms,mks->pmk", pv.reshape(len(probe_ids), _PQ_M, _PQ_SUB), cb
    )
    pnorms = np.sqrt((pv**2).sum(1))

    # reference: full brute-force ADC ranking (r11 math, verbatim)
    cn2 = (cb**2).sum(-1)
    codes = np.empty((len(x), _PQ_M), dtype=np.int64)
    for m in range(_PQ_M):
        sub = x[:, m * _PQ_SUB : (m + 1) * _PQ_SUB]
        codes[:, m] = (cn2[m][None, :] - 2.0 * (sub @ cb[m].T)).argmin(1)
    an2 = cn2[np.arange(_PQ_M)[None, :], codes].sum(1)
    luts_t = np.ascontiguousarray(luts.transpose(1, 2, 0))
    acc = np.zeros((len(x), len(probe_ids)))
    for m in range(_PQ_M):
        acc += luts_t[m][codes[:, m]]
    out = acc / (pnorms[None, :] * np.sqrt(np.maximum(an2, 1e-12))[:, None])

    # kernel under test: 3 uneven batches through one task iterator
    kern = _pq_adc_topk_kernel(cb, luts, pnorms, probe_ids, _PQ_SHORTLIST)
    cuts = [0, len(x) // 3, len(x) // 2, len(x)]
    batches = [
        pa.RecordBatch.from_arrays(
            [
                pa.array(vec_ids[a:b], pa.int64()),
                pa.array(
                    [row.astype(np.float32) for row in x[a:b]],
                    pa.list_(pa.float32()),
                ),
            ],
            names=["vec_id", "embedding"],
        )
        for a, b in zip(cuts, cuts[1:])
    ]
    got = pa.Table.from_batches(list(kern(iter(batches)))).to_pandas()

    for pi, p in enumerate(probe_ids):
        mask = vec_ids != p
        s, v = out[mask, pi], vec_ids[mask]
        order = np.lexsort((v, -s))[:_PQ_SHORTLIST]
        g = got[got["probe_id"] == p]
        assert list(g["vec_id"]) == list(v[order])
        assert list(g["adc_cos"]) == list(s[order])  # exact doubles
