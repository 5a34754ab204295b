"""BPTT training (``training.train_full``) against a finite-difference oracle."""

from __future__ import annotations

import numpy as np

from cross_sentence_relation_extraction_idepnn_spark import kernels as K
from cross_sentence_relation_extraction_idepnn_spark import training as T

# the weights train_full's cost regularises: weight matrices, no biases
L2_KEYS = ["W_xh_f", "W_hh_f", "W_xh_b", "W_hh_b", "W_hh_bi", "W_tree_proj", "W_hy_adp"]


def _rows(n, seed):
    rng = np.random.RandomState(seed)
    vocab = ["scan", "table", "reads", "the", "fast", "row", "data", "join", "of"]
    rows = []
    for _ in range(n):
        sents = [
            [vocab[rng.randint(len(vocab))] for _ in range(int(rng.randint(1, 6)))]
            for _ in range(int(rng.randint(1, 4)))
        ]
        texts = [" ".join(s) for s in sents]
        t1 = int(rng.randint(len(sents[0])))
        t2 = int(rng.randint(len(sents[-1])))
        rows.append(K.featurize_window(texts, 0, t1, len(sents) - 1, t2, 0))
    return rows


def test_train_full_gradient_matches_central_differences():
    """One SGD step at lr 1 with no clipping moves every trained weight
    by minus its gradient. That gradient must match central differences
    of the cost train_full minimises: the mean NLL of the scored rows
    plus (l2/2)·Σ‖W‖² over the regularised weights."""
    rows = _rows(9, seed=4)
    assert len({len(r["sdp_words"]) for r in rows}) > 2  # rows of unequal length
    labels = np.arange(len(rows)) % 2
    base = {k: 4 * v for k, v in K.init_weights().items()}  # past tanh's linear range
    l2 = 0.01
    stepped = T.train_full(rows, labels, base, epochs=1, lr=1.0, l2=l2, clip=np.inf)

    def cost(W):
        p = K.score_batch(rows, W)
        nll = -np.log(p[np.arange(len(rows)), labels]).mean()
        return nll + l2 / 2 * sum((W[k] ** 2).sum() for k in L2_KEYS)

    rng = np.random.RandomState(0)
    eps = 1e-6
    for k in T.TRAINED:
        grad = base[k] - stepped[k]
        for flat in rng.choice(base[k].size, size=min(4, base[k].size), replace=False):
            i = np.unravel_index(flat, base[k].shape)
            up = {**base, k: base[k].copy()}
            down = {**base, k: base[k].copy()}
            up[k][i] += eps
            down[k][i] -= eps
            num = (cost(up) - cost(down)) / (2 * eps)
            assert abs(grad[i] - num) <= 1e-8 + 1e-5 * abs(num), (k, i, grad[i], num)
