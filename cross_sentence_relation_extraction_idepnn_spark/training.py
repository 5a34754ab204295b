"""Single-node training of the relation scorer (SURVEY.md §3.3).

The reference trains end-to-end with per-example Theano steps
(M8 NLL + L2 cost ``elman_bidirection_RC.py:532-550``; M9 SGD with
gradient clipping ``optimiser/grad_optimiser.py:83-103``). Per
SURVEY.md §7.0 the distributed path is inference-only: training runs
once, single-node, and ships frozen weights.

``train_full`` is the end-to-end analogue: batched BPTT through the
forward/backward Elman recurrences and the bi-combiner (M3/M4), plus
the softmax head (M7) and the linear ADP projection, on NLL + L2 with
global gradient-norm clipping — the reference's cost/update family
vectorized across the whole batch instead of minibatch=1. Its forward
pass is the inference scan itself (``kernels.birnn_states``), and BPTT
reads that scan's states, so training differentiates the very states
that scoring computes. The word/
POS/IOB/PI embeddings and the TreeRNN recurrent weights stay at their
deterministic frozen values (embeddings are hash-derived dimension
tables here, so the reference's post-step embedding row-normalization
M10 has no trainable target). ``train_head`` remains as the cheap
head-only variant.

Gold labels come from the synthetic corpus rule: the relation holds
iff the entities are *dependency-proximate* — connected by at most
``GOLD_MAX_HOPS`` edges on the inter-sentential dependency graph
(the iSDP). This is the in-sandbox analogue of the reference's
annotated relations: deterministic, computable by the numpy oracle,
and a genuine function of the features the model consumes (k alone is
not recoverable from SDP features in the synthetic grammar — path
lengths overlap across k — which would cap any model's accuracy and
leave scores knife-edge at the threshold; SURVEY.md §7.3.3).

``python -m cross_sentence_relation_extraction_idepnn_spark.training`` regenerates
``artifacts/weights.json``; the pipeline loads it at job start and
broadcasts once.
"""

from __future__ import annotations

import json
import os

import numpy as np

from . import kernels

ARTIFACT = os.path.join(os.path.dirname(__file__), "artifacts", "weights.json")

GOLD_MAX_HOPS = 3
L2 = 1e-4
LR = 1.0
EPOCHS = 400
CLIP = 5.0

FULL_EPOCHS = 150
FULL_LR = 0.5


def gold_label(row: dict) -> int:
    """Synthetic gold rule: relation holds iff the SDP between the
    entities has at most GOLD_MAX_HOPS edges (dependency proximity)."""
    return 1 if len(row["sdp_gidx"]) - 1 <= GOLD_MAX_HOPS else 0


def train_head(
    feats: np.ndarray, labels: np.ndarray, base: dict[str, np.ndarray]
) -> dict[str, np.ndarray]:
    """Full-batch NLL + L2 gradient descent on (W_hy_adp, b_y)."""
    n = len(feats)
    out = dict(base, W_hy_adp=base["W_hy_adp"].copy(), b_y=base["b_y"].copy())
    onehot = np.eye(kernels.N_CLASSES)[labels]
    for _ in range(EPOCHS):
        gl = (kernels.softmax_head(feats, out) - onehot) / n
        gW = feats.T @ gl + L2 * out["W_hy_adp"]
        gb = gl.sum(axis=0)
        norm = float(np.sqrt((gW**2).sum() + (gb**2).sum()))
        if norm > CLIP:  # M9 gradient-norm cutoff
            gW *= CLIP / norm
            gb *= CLIP / norm
        out["W_hy_adp"] -= LR * gW
        out["b_y"] -= LR * gb
    return out


TRAINED = [
    "W_xh_f", "W_hh_f", "b_f",
    "W_xh_b", "W_hh_b", "b_b",
    "W_hh_bi", "b_bi",
    "W_tree_proj", "W_hy_adp", "b_y",
]


def _bwd_chain(dH_ext, Hs, U):
    """BPTT through an Elman chain whose states ``Hs`` come from
    ``kernels.birnn_states``: the tanh output at every valid step, zero
    past a row's end, where ``dH_ext`` (the external gradient into
    h_t) is zero too, so no gradient reaches those steps. Returns
    (dinp (B,L,H), dU, db)."""
    B, L, H = dH_ext.shape
    dinp = np.zeros((B, L, H))
    dU = np.zeros_like(U)
    db = np.zeros(H)
    carry = np.zeros((B, H))
    for t in range(L - 1, -1, -1):
        dz = (dH_ext[:, t] + carry) * (1 - Hs[:, t] ** 2)
        if t:
            dU += Hs[:, t - 1].T @ dz
        db += dz.sum(axis=0)
        dinp[:, t] = dz
        carry = dz @ U.T
    return dinp, dU, db


def lr_schedule_step(
    strategy: int,
    i: int,
    lr: float,
    best_epoch: int,
    decay: float = 0.5,
    update_after: int = 10,
    stop_incc: int = 0,
) -> tuple[float, bool, bool]:
    """Reference learning-rate decay strategies 1-6, ported line for
    line from ``elman-bidirection.py:2578-2615``. Returns
    ``(new_lr, reload_best, stop)``:

    1. multiply by ``decay`` every ``update_after`` epochs;
    2. harmonic ``lr / (i+1)``;
    3. multiply by ``decay`` when no best-epoch improvement for
       ``update_after`` epochs (floor 1e-5); hard-stop once the
       no-improvement counter reaches 100;
    4. unconditional halving after epoch 3 (floor 1e-6);
    5. on stall: reload the best snapshot and halve (below 1e-6 the
       reference RESTARTS the rate at lr*100 — a quirk kept verbatim);
    6. like 5 with a gentler 0.9x band between 1e-5 and 1e-6.
    """
    reload_best, stop = False, False
    if strategy == 1 and i % update_after == 0 and i != 0:
        lr *= decay
    if strategy == 2 and i != 0:
        lr /= i + 1
    if strategy == 3 and i > 3 and lr > 1e-5:
        if decay and abs(best_epoch - i) >= update_after:
            lr *= decay
            if stop_incc >= 100:
                stop = True
    if strategy == 4:
        if i > 3 and lr > 1e-6:
            lr = float(lr) / 2
    if strategy == 5:
        if abs(best_epoch - i) >= update_after:
            reload_best = True
            if lr > 1e-6:
                lr = float(lr) / 2
            else:
                lr *= 100
    if strategy == 6:
        if abs(best_epoch - i) >= update_after:
            reload_best = True
            if lr > 1e-5:
                lr = float(lr) / 2
            elif lr > 1e-6:
                lr = float(lr) * 0.9
            else:
                lr *= 100
    return lr, reload_best, stop


def train_full(
    rows: list[dict],
    labels: np.ndarray,
    base: dict[str, np.ndarray],
    epochs: int = FULL_EPOCHS,
    lr: float = FULL_LR,
    l2: float = L2,
    clip: float = CLIP,
    optimizer: str = "sgd",
    dev: tuple[list[dict], np.ndarray] | None = None,
    eval_every: int = 10,
    patience: int = 5,
    verbose: bool = False,
    lr_strategy: int | None = None,
    lr_update_after: int = 10,
    lr_decay_factor: float = 0.5,
) -> dict[str, np.ndarray]:
    """End-to-end BPTT training of the bi-RNN + head (M3/M4/M7/M8/M9),
    batched across all examples. TreeRNN recurrent weights stay frozen;
    its linear projection ``W_tree_proj`` and the head are trained.

    ``optimizer``: ``sgd`` | ``adagrad`` | ``adadelta`` — the reference's
    optimizer family (``optimiser/grad_optimiser.py:89-101``), each with
    the M9 global gradient-norm cutoff. The reference's 0.25× embedding
    learning rate (``:98-99``) has no target here: embeddings are frozen
    hash-derived tables, not parameters.

    ``dev``: optional (rows, labels) held-out split — evaluated every
    ``eval_every`` epochs; the best-dev snapshot is returned and
    training stops after ``patience`` evaluations without improvement
    (O2 best-epoch selection + early stop,
    ``elman-bidirection.py:2527-2533,2584-2589``)."""
    W = {k: v.copy() for k, v in base.items()}
    # rows in the scan's order (longest first) throughout
    X, lens, order = kernels.build_inputs(rows)
    Xr = kernels.reverse_steps(X, lens)
    labels = np.asarray(labels)[order]
    B = len(labels)
    S_mean = kernels.tree_mean_states(rows, W)[order]  # frozen tree features
    onehot = np.eye(kernels.N_CLASSES)[labels]
    ar = np.arange(B)
    last_t = lens - 1
    H = kernels.HIDDEN

    best_dev_nll, best_W, stale, best_epoch = np.inf, None, 0, 0

    for epoch in range(epochs):
        Hf, Hr, Hbi = kernels.birnn_states(X, lens, W)
        feats = np.concatenate([Hbi[ar, last_t], S_mean @ W["W_tree_proj"]], axis=1)
        p = kernels.softmax_head(feats, W)

        # ---- backward
        dlogits = (p - onehot) / B
        g = {}
        g["W_hy_adp"] = feats.T @ dlogits + l2 * W["W_hy_adp"]
        g["b_y"] = dlogits.sum(axis=0)
        dfeats = dlogits @ W["W_hy_adp"].T
        dh_final = dfeats[:, :H]
        dtree = dfeats[:, H:]
        g["W_tree_proj"] = S_mean.T @ dtree + l2 * W["W_tree_proj"]

        dHbi_ext = np.zeros_like(Hbi)
        dHbi_ext[ar, last_t] = dh_final
        dinp_bi, dU_bi, db_bi = _bwd_chain(dHbi_ext, Hbi, W["W_hh_bi"])
        g["W_hh_bi"] = dU_bi + l2 * W["W_hh_bi"]
        g["b_bi"] = db_bi

        dinp_f, dU_f, db_f = _bwd_chain(dinp_bi, Hf, W["W_hh_f"])
        g["W_xh_f"] = np.einsum("blx,blh->xh", X, dinp_f) + l2 * W["W_xh_f"]
        g["W_hh_f"] = dU_f + l2 * W["W_hh_f"]
        g["b_f"] = db_f

        # h_b's gradient, read back into the backward chain's time
        dinp_br, dU_b, db_b = _bwd_chain(kernels.reverse_steps(dinp_bi, lens), Hr, W["W_hh_b"])
        g["W_xh_b"] = np.einsum("blx,blh->xh", Xr, dinp_br) + l2 * W["W_xh_b"]
        g["W_hh_b"] = dU_b + l2 * W["W_hh_b"]
        g["b_b"] = db_b

        norm = float(np.sqrt(sum((gv**2).sum() for gv in g.values())))
        scale = clip / norm if norm > clip else 1.0  # M9 norm cutoff
        if optimizer == "sgd":
            for k in TRAINED:
                W[k] -= lr * scale * g[k]
        elif optimizer == "adagrad":
            if epoch == 0:
                acc = {k: np.zeros_like(W[k]) for k in TRAINED}
            for k in TRAINED:
                gk = scale * g[k]
                acc[k] += gk**2
                W[k] -= lr * gk / np.sqrt(acc[k] + 1e-8)
        elif optimizer == "adadelta":
            if epoch == 0:
                eg = {k: np.zeros_like(W[k]) for k in TRAINED}
                ex = {k: np.zeros_like(W[k]) for k in TRAINED}
            rho, eps = 0.95, 1e-6
            for k in TRAINED:
                gk = scale * g[k]
                eg[k] = rho * eg[k] + (1 - rho) * gk**2
                dx = -np.sqrt(ex[k] + eps) / np.sqrt(eg[k] + eps) * gk
                ex[k] = rho * ex[k] + (1 - rho) * dx**2
                W[k] += dx
        else:
            raise ValueError(f"unknown optimizer {optimizer!r}")
        if verbose and epoch % 25 == 0:
            nll = float(-np.log(p[ar, labels] + 1e-12).mean())
            acc = float((p.argmax(axis=1) == labels).mean())
            print(f"epoch {epoch:4d} nll={nll:.4f} acc={acc:.4f} gnorm={norm:.3f}")
        if dev is not None and (epoch + 1) % eval_every == 0:
            dp = kernels.score_batch(dev[0], W)
            dnll = float(-np.log(dp[np.arange(len(dev[1])), dev[1]] + 1e-12).mean())
            if dnll < best_dev_nll - 1e-6:
                best_dev_nll, stale, best_epoch = dnll, 0, epoch
                best_W = {k: v.copy() for k, v in W.items()}
            else:
                stale += 1
                if stale >= patience:  # early stop
                    break
        if lr_strategy is not None:
            lr, reload_best, stop_now = lr_schedule_step(
                lr_strategy, epoch, lr, best_epoch,
                decay=lr_decay_factor, update_after=lr_update_after,
                stop_incc=stale,
            )
            if reload_best and best_W is not None:
                W = {k: v.copy() for k, v in best_W.items()}
            if stop_now:
                break
    return best_W if (dev is not None and best_W is not None) else W


def save_weights(weights: dict[str, np.ndarray], path: str = ARTIFACT) -> None:
    """Write ``weights`` to ``path`` and drop its ``load_weights``
    memo: the next load returns the new arrays as a new object, so
    plans memoized on the old weights are not handed out again."""
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as f:
        json.dump(kernels.weights_to_lists(weights), f)
    _WEIGHTS_CACHE.pop(path, None)


_WEIGHTS_CACHE: dict[str, dict] = {}


def load_weights(path: str = ARTIFACT) -> dict[str, np.ndarray]:
    """Frozen weights. Resolution order: explicit file path →
    package resource (works when the package ships as a
    ``spark-submit --py-files`` zip, where ``__file__`` paths do not
    exist on disk) → deterministic init (fresh checkout before
    training ran). Memoized per path (r6): consumers are read-only
    (inference scoring), and a stable object identity lets the
    scored-prefix plan memo key on it."""
    w = _WEIGHTS_CACHE.get(path)
    if w is None:
        w = _load_weights_fresh(path)
        _WEIGHTS_CACHE[path] = w
    return w


def _load_weights_fresh(path: str) -> dict[str, np.ndarray]:
    if os.path.exists(path):
        with open(path) as f:
            return kernels.weights_from_lists(json.load(f))
    try:
        from importlib import resources

        res = resources.files(__package__) / "artifacts" / "weights.json"
        return kernels.weights_from_lists(json.loads(res.read_text()))
    except (FileNotFoundError, ModuleNotFoundError, OSError):
        return kernels.init_weights()


def _collect_training_set(sf_dir: str):
    """Featurize candidates at small scale through the Spark path and
    pull them to the driver (training sets are tiny by design)."""
    from .operators.candidates import candidate_pairs
    from .operators.graph import candidate_windows, featurize_pair
    from .operators.mentions import detect_mentions
    from .operators.scoring import FEATURE_COLS
    from .operators.segmentation import segment
    from .session import get_spark
    from .sources.transcripts import transcripts

    spark = get_spark("idepnn_train", cores=8)
    sents = segment(transcripts(spark, sf_dir))
    cands = candidate_pairs(detect_mentions(spark, sents))
    feats = featurize_pair(candidate_windows(cands, sents)).filter("ok")
    pdf = feats.select("k", *FEATURE_COLS).toPandas()
    rows = pdf.to_dict("records")
    ks = np.array([int(r.pop("k")) for r in rows])
    return rows, ks


def _collect_boundary_set(
    sf_dir: str, dists: tuple[int, ...] = (3, 4), keep_every: int = 3
):
    """Hard-example augmentation: candidates whose SDP distance sits ON
    the gold decision boundary at a larger scale, deterministically
    subsampled (hash of cand_id). The round-3 audit found the sf0.01-
    trained model leaves a handful of near-threshold false positives
    at sf0.1 (4 in 282k, p_rel 0.52-0.67) — all at boundary distances;
    training on the boundary neighborhood from the larger corpus
    removes them without touching the architecture."""
    from pyspark.sql import functions as F

    from .operators.candidates import candidate_pairs_fast
    from .operators.graph import candidate_windows, featurize_pair
    from .operators.mentions import detect_mentions
    from .operators.scoring import FEATURE_COLS
    from .operators.segmentation import segment
    from .session import get_spark
    from .sources.transcripts import transcripts

    spark = get_spark("idepnn_train_aug", cores=16)
    sents = segment(transcripts(spark, sf_dir))
    feats = featurize_pair(
        candidate_windows(candidate_pairs_fast(detect_mentions(spark, sents)), sents)
    ).filter("ok")
    dist = F.size("sdp_gidx") - 1
    picked = feats.filter(
        dist.isin(list(dists)) & (F.pmod(F.xxhash64("cand_id"), keep_every) == 0)
    )
    pdf = picked.select("k", *FEATURE_COLS).toPandas()
    rows = pdf.to_dict("records")
    for r in rows:
        r.pop("k")
    return rows


def main(
    sf_dir: str = "/root/testdata/sf0.01",
    boundary_sf: str | None = "/root/testdata/sf0.1",
) -> None:
    base = kernels.init_weights()
    rows, ks = _collect_training_set(sf_dir)
    if boundary_sf:
        rows = rows + _collect_boundary_set(boundary_sf)
    labels = np.array([gold_label(r) for r in rows])
    trained = train_full(rows, labels, base, verbose=True)
    probs = kernels.score_batch(rows, trained, use_adp=True)
    pred = probs.argmax(axis=1)
    acc = float((pred == labels).mean())
    tp = int(((pred == 1) & (labels == 1)).sum())
    fp = int(((pred == 1) & (labels == 0)).sum())
    fn = int(((pred == 0) & (labels == 1)).sum())
    p = tp / (tp + fp) if tp + fp else 0.0
    r = tp / (tp + fn) if tp + fn else 0.0
    f1 = 2 * p * r / (p + r) if p + r else 0.0
    print(
        f"train n={len(labels)} pos={int(labels.sum())} acc={acc:.4f} "
        f"P={p:.4f} R={r:.4f} F1={f1:.4f}"
    )
    save_weights(trained)
    print(f"saved {ARTIFACT}")


if __name__ == "__main__":
    main()
