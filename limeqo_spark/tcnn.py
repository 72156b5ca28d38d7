"""Tree-convolution cost model (SURVEY A21-A27) and a ridge fallback, in numpy.

The reference's LimeQO+ trains a tree-CNN over EXPLAIN plan trees
(tcnn.py / limeqo_plus.py in /root/reference): per-node feature vectors,
tree convolution over (node, left-child, right-child) triples, dynamic
max-pool, query/hint embeddings, MLP head, censored MSE loss. Here, in
numpy only:

  - :func:`flatten_tree` / :class:`NumpyTCNN` implement the full model
    with explicit forward/backward passes;
  - :class:`RidgeCostModel` is the lightweight fallback: plan-level
    features (node-type histogram from plans.featurize) + hint one-hot,
    fit by ridge regression with the same hinge-censoring iteration
    (censored targets are raised to their cutoff whenever the model
    prediction falls below it).
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np

from limeqo_spark.plans import NODE_VOCABULARY, PlanNode, binarize


def flatten_tree(root: PlanNode) -> tuple[np.ndarray, np.ndarray]:
    """Binarize + preorder-flatten a plan tree into
    (features [n, |vocab|], child_index [n, 2]) for tree convolution.
    Index 0 is reserved as the zero/Dummy slot (absent children point at 0),
    so gathered (node, left, right) triples are well-defined at leaves.
    """
    tree = binarize(root)
    vocab = {v: i for i, v in enumerate(NODE_VOCABULARY)}
    feats: list[np.ndarray] = [np.zeros(len(NODE_VOCABULARY))]  # slot 0 = pad
    children: list[list[int]] = [[0, 0]]

    def visit(node: PlanNode) -> int:
        idx = len(feats)
        one_hot = np.zeros(len(NODE_VOCABULARY))
        one_hot[vocab.get(node.node_type, vocab["Dummy"])] = 1.0
        feats.append(one_hot)
        children.append([0, 0])
        for slot, child in enumerate(node.children[:2]):
            children[idx][slot] = visit(child)
        return idx

    visit(tree)
    return np.asarray(feats, dtype=np.float32), np.asarray(children, dtype=np.int64)


class NumpyTCNN:
    """Tree-CNN cost model with explicit numpy forward/backward — the
    torch-free realization of the reference's TCNN (SURVEY A21/A24-A26;
    reference ``src/models/tcnn.py:53-94`` architecture, censored training
    loop ``src/strategies/limeqo_plus.py:193-234``, censored loss semantics
    ``limeqo_plus.py:263-268``).

    Architecture (mirrors the reference's torch TCNN): two tree-convolution
    blocks — gather (node, left, right) triples, dense over the
    concatenated triple (== Conv1d kernel 3 stride 3), ReLU — then dynamic
    max-pool over nodes, LayerNorm, concat query/hint embeddings, and a
    32-16-1 MLP head. Deviations from the reference, both documented:
    no dropout (deterministic numpy training; the reference uses p=0.3),
    and the censored loss is the hinge form (censored rows only penalize
    predictions below their cutoff) rather than the reference's
    mse-vs-revealed-label variant, matching this repo's
    ``RidgeCostModel``.

    Samples reference *unique trees* by id: ``fit``/``predict`` take the
    stacked unique-tree tensors plus a per-sample ``tree_id``. The conv
    stack runs once per unique tree per step (gradients accumulate over the
    samples sharing a tree), so the embeddings-only simulation mode (all
    cells share one dummy tree — no plan corpus ships with the reference
    matrices) costs one tiny conv pass, while live mode pays O(Q x H) trees.
    Targets are min-max scaled log1p latencies (A8/A9 semantics).
    """

    def __init__(
        self,
        n_features: int,
        n_queries: int,
        n_hints: int,
        rank: int = 8,
        conv1: int = 64,
        conv2: int = 32,
        hidden: tuple[int, int] = (32, 16),
        seed: int = 0,
    ) -> None:
        rng = np.random.default_rng(seed)
        self.rank = rank
        d = n_features

        def glorot(fan_in: int, fan_out: int) -> np.ndarray:
            s = np.sqrt(6.0 / (fan_in + fan_out))
            return rng.uniform(-s, s, (fan_in, fan_out))

        h1, h2 = hidden
        self.p: dict[str, np.ndarray] = {
            "W1": glorot(3 * d, conv1), "b1": np.zeros(conv1),
            "W2": glorot(3 * conv1, conv2), "b2": np.zeros(conv2),
            "g": np.ones(conv2), "beta": np.zeros(conv2),  # LayerNorm
            "Q": 0.1 * rng.standard_normal((n_queries, rank)),
            "H": 0.1 * rng.standard_normal((n_hints, rank)),
            "W3": glorot(conv2 + 2 * rank, h1), "b3": np.zeros(h1),
            "W4": glorot(h1, h2), "b4": np.zeros(h2),
            "W5": glorot(h2, 1), "b5": np.zeros(1),
        }
        self._adam_m = {k: np.zeros_like(v) for k, v in self.p.items()}
        self._adam_v = {k: np.zeros_like(v) for k, v in self.p.items()}
        self._adam_t = 0
        self._y_lo = 0.0
        self._y_hi = 1.0
        self.loss_curve: list[float] = []

    # --- tree-conv sub-network: unique trees in, pooled+normed vectors out
    def _conv_forward(self, feats: np.ndarray, child: np.ndarray) -> dict:
        # feats (T, N, d), child (T, N, 2); slot 0 of each tree is the pad
        def gather(x: np.ndarray, idx: np.ndarray) -> np.ndarray:
            return np.take_along_axis(x, idx[:, :, None].repeat(x.shape[2], 2), axis=1)

        t1 = np.concatenate(
            [feats, gather(feats, child[:, :, 0]), gather(feats, child[:, :, 1])], axis=2
        )
        h1 = np.maximum(t1 @ self.p["W1"] + self.p["b1"], 0.0)
        t2 = np.concatenate(
            [h1, gather(h1, child[:, :, 0]), gather(h1, child[:, :, 1])], axis=2
        )
        h2 = np.maximum(t2 @ self.p["W2"] + self.p["b2"], 0.0)
        arg = h2.argmax(axis=1)  # (T, c2) winning node per channel
        pooled = np.take_along_axis(h2, arg[:, None, :], axis=1)[:, 0, :]
        mu = pooled.mean(axis=1, keepdims=True)
        var = pooled.var(axis=1, keepdims=True)
        xhat = (pooled - mu) / np.sqrt(var + 1e-5)
        ln = self.p["g"] * xhat + self.p["beta"]
        return {
            "feats": feats, "child": child, "t1": t1, "h1": h1, "t2": t2,
            "h2": h2, "arg": arg, "xhat": xhat, "var": var, "ln": ln,
        }

    def _conv_backward(self, c: dict, dln: np.ndarray, grads: dict) -> None:
        # LayerNorm backward
        g = self.p["g"]
        grads["g"] += (dln * c["xhat"]).sum(axis=0)
        grads["beta"] += dln.sum(axis=0)
        dxhat = dln * g
        n = c["xhat"].shape[1]
        inv_std = 1.0 / np.sqrt(c["var"] + 1e-5)
        dpooled = inv_std * (
            dxhat
            - dxhat.mean(axis=1, keepdims=True)
            - c["xhat"] * (dxhat * c["xhat"]).mean(axis=1, keepdims=True)
        )
        # max-pool backward: route each channel's grad to its winning node
        dh2 = np.zeros_like(c["h2"])
        np.put_along_axis(dh2, c["arg"][:, None, :], dpooled[:, None, :], axis=1)
        dh2 *= c["h2"] > 0
        grads["W2"] += np.einsum("tnd,tnc->dc", c["t2"], dh2)
        grads["b2"] += dh2.sum(axis=(0, 1))
        dt2 = dh2 @ self.p["W2"].T
        c1 = c["h1"].shape[2]
        dh1 = dt2[:, :, :c1].copy()
        self._scatter_add(dh1, dt2[:, :, c1 : 2 * c1], c["child"][:, :, 0])
        self._scatter_add(dh1, dt2[:, :, 2 * c1 :], c["child"][:, :, 1])
        dh1 *= c["h1"] > 0
        grads["W1"] += np.einsum("tnd,tnc->dc", c["t1"], dh1)
        grads["b1"] += dh1.sum(axis=(0, 1))
        del n  # feature gradients of the input one-hots are not needed

    @staticmethod
    def _scatter_add(acc: np.ndarray, grad: np.ndarray, idx: np.ndarray) -> None:
        """acc[t, idx[t, n], :] += grad[t, n, :] (inverse of the gather)."""
        t_idx = np.arange(acc.shape[0])[:, None]
        np.add.at(acc, (t_idx, idx), grad)

    # --- full forward over samples
    def _forward(
        self, conv: dict, tree_id: np.ndarray, q_idx: np.ndarray, h_idx: np.ndarray
    ) -> dict:
        z = np.concatenate(
            [conv["ln"][tree_id], self.p["Q"][q_idx], self.p["H"][h_idx]], axis=1
        )
        a1 = np.maximum(z @ self.p["W3"] + self.p["b3"], 0.0)
        a2 = np.maximum(a1 @ self.p["W4"] + self.p["b4"], 0.0)
        out = (a2 @ self.p["W5"] + self.p["b5"])[:, 0]
        return {"z": z, "a1": a1, "a2": a2, "out": out}

    def _backward(
        self,
        conv: dict,
        f: dict,
        tree_id: np.ndarray,
        q_idx: np.ndarray,
        h_idx: np.ndarray,
        dout: np.ndarray,
    ) -> dict:
        grads = {k: np.zeros_like(v) for k, v in self.p.items()}
        da2 = dout[:, None] * self.p["W5"].T  # (B,1) x (1,h2)
        grads["W5"] += f["a2"].T @ dout[:, None]
        grads["b5"] += dout.sum(keepdims=True)
        da2 *= f["a2"] > 0
        grads["W4"] += f["a1"].T @ da2
        grads["b4"] += da2.sum(axis=0)
        da1 = da2 @ self.p["W4"].T
        da1 *= f["a1"] > 0
        grads["W3"] += f["z"].T @ da1
        grads["b3"] += da1.sum(axis=0)
        dz = da1 @ self.p["W3"].T
        c2 = conv["ln"].shape[1]
        dln_s = dz[:, :c2]
        np.add.at(grads["Q"], q_idx, dz[:, c2 : c2 + self.rank])
        np.add.at(grads["H"], h_idx, dz[:, c2 + self.rank :])
        dln = np.zeros_like(conv["ln"])
        np.add.at(dln, tree_id, dln_s)
        self._conv_backward(conv, dln, grads)
        return grads

    #: parameters receiving decoupled weight decay (AdamW): the query/hint
    #: embeddings. Rows never seen in training keep shrinking toward 0, so
    #: an UNSEEN (query, hint) combination predicts the learned baseline
    #: (MLP at zero embeddings) instead of init-noise extrapolation — without
    #: this, unexplored cells can collapse to near-zero latency predictions
    #: and hijack the improvement ranking (observed on the CEB sim).
    _DECAYED = ("Q", "H")

    def _adam_step(self, grads: dict, lr: float, weight_decay: float = 0.0) -> None:
        self._adam_t += 1
        b1, b2, eps = 0.9, 0.999, 1e-8
        for k, gr in grads.items():
            self._adam_m[k] = b1 * self._adam_m[k] + (1 - b1) * gr
            self._adam_v[k] = b2 * self._adam_v[k] + (1 - b2) * gr * gr
            mhat = self._adam_m[k] / (1 - b1 ** self._adam_t)
            vhat = self._adam_v[k] / (1 - b2 ** self._adam_t)
            self.p[k] -= lr * mhat / (np.sqrt(vhat) + eps)
            if weight_decay and k in self._DECAYED:
                self.p[k] -= lr * weight_decay * self.p[k]

    # --- censored hinge loss in scaled-log space
    def _scale_fit(self, y: np.ndarray, cutoffs: np.ndarray) -> None:
        vals = np.log1p(np.concatenate([y[cutoffs <= 0], cutoffs[cutoffs > 0]]))
        if len(vals) == 0:
            vals = np.array([0.0, 1.0])
        self._y_lo = float(vals.min())
        self._y_hi = float(max(vals.max(), self._y_lo + 1e-9))

    def _scale(self, v: np.ndarray) -> np.ndarray:
        return (np.log1p(v) - self._y_lo) / (self._y_hi - self._y_lo)

    def _unscale(self, s: np.ndarray) -> np.ndarray:
        # clamp the scaled prediction at 0 == the minimum latency seen in
        # training: extrapolating BELOW every observation ("this cell is
        # 100x faster than anything ever measured") is init noise, not
        # signal, and downstream improvement ranking would chase it; the
        # upper log-space clamp guards expm1 overflow
        return np.expm1(
            np.clip(np.maximum(s, 0.0) * (self._y_hi - self._y_lo) + self._y_lo, None, 50.0)
        )

    def fit(
        self,
        trees: tuple[np.ndarray, np.ndarray],  # unique (T,N,d) feats, (T,N,2) child
        tree_id: np.ndarray,  # (B,) sample -> unique-tree index
        q_idx: np.ndarray,
        h_idx: np.ndarray,
        latency: np.ndarray,  # true values where uncensored (ignored where censored)
        cutoffs: np.ndarray | None = None,  # >0 = censored at this bound
        epochs: int = 200,
        lr: float = 5e-3,
        stop_loss: float = 0.1,
        weight_decay: float = 0.0,
    ) -> "NumpyTCNN":
        """Full-batch Adam with the reference's convergence early-stop
        (loss < ``stop_loss`` and plateau vs 10 epochs back —
        limeqo_plus.py:225-229; the reference pins 0.1)."""
        feats, child = trees
        cutoffs = np.zeros_like(latency) if cutoffs is None else cutoffs
        self._scale_fit(latency, cutoffs)
        y = self._scale(np.where(cutoffs > 0, 0.0, latency))
        cut = np.where(cutoffs > 0, self._scale(cutoffs), 0.0)
        censored = cutoffs > 0
        n = max(len(y), 1)
        self.loss_curve = []
        for _epoch in range(epochs):
            conv = self._conv_forward(feats, child)
            f = self._forward(conv, tree_id, q_idx, h_idx)
            pred = f["out"]
            # hinge censoring: censored rows only constrain from below
            err = np.where(censored, np.minimum(pred - cut, 0.0), pred - y)
            loss = float((err**2).mean())
            self.loss_curve.append(loss)
            dout = 2.0 * err / n
            grads = self._backward(conv, f, tree_id, q_idx, h_idx, dout)
            self._adam_step(grads, lr, weight_decay)
            lc = self.loss_curve
            if len(lc) > 10 and lc[-1] < stop_loss:
                last_two = min(lc[-2:])
                if last_two > lc[-10] or (lc[-10] - last_two < 1e-4):
                    break
        return self

    def predict(
        self,
        trees: tuple[np.ndarray, np.ndarray],
        tree_id: np.ndarray,
        q_idx: np.ndarray,
        h_idx: np.ndarray,
    ) -> np.ndarray:
        conv = self._conv_forward(trees[0], trees[1])
        return self._unscale(self._forward(conv, tree_id, q_idx, h_idx)["out"])


def dummy_tree(n_features: int) -> tuple[np.ndarray, np.ndarray]:
    """The shared single-node tree for embeddings-only (simulation) mode:
    slot 0 pad + one root with a constant indicator feature. With one
    unique tree the pooled plan vector is a learned constant and the TCNN
    reduces to a neural matrix-factorization over the query/hint
    embeddings — the honest headless stand-in when no plan corpus exists
    (the reference ships matrices but not EXPLAIN trees)."""
    feats = np.zeros((1, 2, n_features), dtype=np.float64)
    feats[0, 1, 0] = 1.0
    child = np.zeros((1, 2, 2), dtype=np.int64)
    return feats, child


def collate_trees(
    flat: list[tuple[np.ndarray, np.ndarray]],
) -> tuple[np.ndarray, np.ndarray]:
    """Pad a list of flatten_tree outputs to a stacked (T, N, d) / (T, N, 2)
    pair (A24 pad_and_stack semantics: zero-pad features, pad children point
    at slot 0)."""
    n = max(f.shape[0] for f, _ in flat)
    d = flat[0][0].shape[1]
    feats = np.zeros((len(flat), n, d))
    child = np.zeros((len(flat), n, 2), dtype=np.int64)
    for t, (f, c) in enumerate(flat):
        feats[t, : f.shape[0]] = f
        child[t, : c.shape[0]] = c
    return feats, child


@dataclass
class RidgeCostModel:
    """Fallback cost model: ridge over [plan-histogram || hint one-hot]
    features with hinge-censoring iterations, in log1p latency space.
    Features are min-max scaled per column at fit time (A9: the reference
    normalizes plan features with a MinMaxScaler pipeline,
    dataset.py:114-139) — histogram counts and structure stats live on very
    different scales, and a shared ridge penalty punishes the small ones."""

    lam: float = 1.0
    iters: int = 20
    weights: np.ndarray | None = None
    f_min: np.ndarray | None = None
    f_range: np.ndarray | None = None

    def _scale(self, features: np.ndarray) -> np.ndarray:
        return (features - self.f_min) / self.f_range

    def fit(
        self,
        features: np.ndarray,  # (n, f) plan-level features
        latency: np.ndarray,  # (n,) observed latencies (ignored where censored)
        cutoffs: np.ndarray | None = None,  # (n,) censor cutoffs; 0 = observed
    ) -> "RidgeCostModel":
        self.f_min = features.min(axis=0)
        self.f_range = np.where(
            features.max(axis=0) > self.f_min, features.max(axis=0) - self.f_min, 1.0
        )
        features = self._scale(features)
        x = np.hstack([features, np.ones((len(features), 1))])
        y = np.log1p(latency.copy())
        cut = np.log1p(cutoffs) if cutoffs is not None else np.zeros_like(y)
        target = np.where(cut > 0, cut, y)
        gram_reg = self.lam * np.eye(x.shape[1])
        w = np.linalg.solve(x.T @ x + gram_reg, x.T @ target)
        for _ in range(self.iters if cutoffs is not None and (cut > 0).any() else 0):
            pred = x @ w
            # hinge: censored rows only constrain from below
            t = np.where((cut > 0) & (pred >= cut), pred, target)
            w = np.linalg.solve(x.T @ x + gram_reg, x.T @ t)
        self.weights = w
        return self

    def predict(self, features: np.ndarray) -> np.ndarray:
        assert self.weights is not None, "fit first"
        x = np.hstack([self._scale(features), np.ones((len(features), 1))])
        return np.expm1(np.clip(x @ self.weights, None, 50.0))


def hint_onehot(hint_id: int, n_hints: int) -> np.ndarray:
    v = np.zeros(n_hints)
    v[hint_id] = 1.0
    return v
