"""Bi-LSTM scoring kernel (M5) vs an independent per-row loop oracle."""

from __future__ import annotations

import numpy as np

from cross_sentence_relation_extraction_idepnn_spark import kernels as K


def _rows(n=4, seed=3):
    rng = np.random.RandomState(seed)
    vocab = ["scan", "table", "reads", "the", "fast", "row", "data", "join"]
    rows = []
    for _ in range(n):
        sents = [
            [vocab[rng.randint(8)] for _ in range(int(rng.randint(2, 5)))]
            for _ in range(int(rng.randint(1, 3)))
        ]
        texts = [" ".join(s) for s in sents]
        f = K.featurize_window(texts, 0, 0, len(sents) - 1, len(sents[-1]) - 1, 0)
        rows.append(f)
    return rows


def _sig(x):
    return 1.0 / (1.0 + np.exp(-x))


def test_lstm_probs_simplex_and_batch_invariance():
    rows = _rows(5)
    W = K.init_lstm_weights()
    p = K.score_batch_lstm(rows, W)
    assert p.shape == (5, 2)
    assert np.allclose(p.sum(axis=1), 1.0)
    solo = np.vstack([K.score_batch_lstm([r], W) for r in rows])
    assert np.array_equal(p, solo)
    feats = K.feature_batch_lstm(rows, W)
    assert np.array_equal(feats, np.vstack([K.feature_batch_lstm([r], W) for r in rows]))


def test_lstm_matches_loop_oracle():
    rows = _rows(3, seed=9)
    W = K.init_lstm_weights()
    got = K.score_batch_lstm(rows, W)
    pos_t, iob_t, pi_t = K.pos_vec_table(), K.iob_vec_table(), K.pi_vec_table()
    for b, r in enumerate(rows):
        xs = []
        for t, w in enumerate(r["sdp_words"]):
            xs.append(
                np.concatenate(
                    [
                        K.word_vec(w),
                        pi_t[r["pi_e1"][t]],
                        pi_t[r["pi_e2"][t]],
                        pos_t[r["sdp_pos"][t]],
                        iob_t[r["sdp_iob"][t]],
                    ]
                )
            )

        def run(dirn, seq):
            h = np.zeros(K.HIDDEN)
            c = np.zeros(K.HIDDEN)
            hs = []
            for x in seq:
                i = _sig(x @ W[f"W_xi_{dirn}"] + h @ W[f"W_hi_{dirn}"] + c * W[f"p_i_{dirn}"] + W[f"b_i_{dirn}"])
                f = _sig(x @ W[f"W_xf_{dirn}"] + h @ W[f"W_hf_{dirn}"] + c * W[f"p_f_{dirn}"] + W[f"b_f_{dirn}"])
                c = f * c + i * np.tanh(x @ W[f"W_xc_{dirn}"] + h @ W[f"W_hc_{dirn}"] + W[f"b_c_{dirn}"])
                o = _sig(x @ W[f"W_xo_{dirn}"] + h @ W[f"W_ho_{dirn}"] + c * W[f"p_o_{dirn}"] + W[f"b_o_{dirn}"])
                h = o * np.tanh(c)
                hs.append(h)
            return hs

        hf = run("f", xs)
        hb = run("b", xs[::-1])[::-1]
        hbi = np.zeros(K.HIDDEN)
        for t in range(len(xs)):
            hbi = np.tanh(hf[t] @ W["W_f_bi"] + hb[t] @ W["W_b_bi"] + hbi @ W["W_hh_bi"] + W["b_bi"])
        logits = hbi @ W["W_hy"] + W["b_y"]
        e = np.exp(logits - logits.max())
        np.testing.assert_allclose(got[b], e / e.sum(), rtol=1e-10, atol=1e-12)
