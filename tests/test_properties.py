"""Property-based tests (hypothesis) over the pure kernels —
randomized counterparts of the hand-built unit tests."""

from __future__ import annotations

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st

from cross_sentence_relation_extraction_idepnn_spark import kernels as K

words_st = st.lists(
    st.text(alphabet="abcdefgh", min_size=1, max_size=6), min_size=1, max_size=10
)
sents_st = st.lists(words_st, min_size=1, max_size=4)


@settings(max_examples=60, deadline=None)
@given(sents_st)
def test_root_chain_makes_windows_connected(sents):
    """Any two tokens in a window are BFS-reachable: per-sentence trees
    are rooted and adjacent roots are chained (G2 invariant)."""
    n = sum(len(s) for s in sents)
    edges, roots = K.build_edges(sents)
    assert len(roots) == len(sents)
    path = K.bfs_path(n, edges, 0, n - 1)
    assert path is not None
    assert path[0] == 0 and path[-1] == n - 1


@settings(max_examples=60, deadline=None)
@given(sents_st)
def test_combined_parents_is_a_forest_rooted_at_dummy(sents):
    parents = K.combined_parents(sents)
    n = len(parents)
    # every chain reaches the dummy root (= n) without cycles
    for start in range(n):
        seen, u = set(), start
        while u != n:
            assert u not in seen
            seen.add(u)
            u = parents[u]


@settings(max_examples=60, deadline=None)
@given(
    st.lists(st.integers(min_value=0, max_value=99), min_size=1, max_size=20),
    st.sampled_from([1, 3, 5, 7]),
)
def test_context_windows_shape_and_center(idxs, win):
    out = K.context_windows(idxs, win)
    assert len(out) == len(idxs)
    for i, w in enumerate(out):
        assert len(w) == win
        assert w[win // 2] == idxs[i]  # center = the token itself


@settings(max_examples=40, deadline=None)
@given(sents_st, st.data())
def test_featurize_window_endpoints_and_iob(sents, data):
    texts = [" ".join(s) for s in sents]
    s1 = data.draw(st.integers(0, len(sents) - 1))
    s2 = data.draw(st.integers(0, len(sents) - 1))
    t1 = data.draw(st.integers(0, len(sents[s1]) - 1))
    t2 = data.draw(st.integers(0, len(sents[s2]) - 1))
    smin = min(s1, s2)
    window = texts[smin : max(s1, s2) + 1]
    f = K.featurize_window(window, s1, t1, s2, t2, smin)
    assert f is not None
    offs = [0]
    for s in sents[smin : max(s1, s2) + 1]:
        offs.append(offs[-1] + len(s))
    g1 = offs[s1 - smin] + t1
    g2 = offs[s2 - smin] + t2
    assert f["sdp_gidx"][0] == g1 and f["sdp_gidx"][-1] == g2
    if g1 != g2:
        assert f["sdp_iob"][0] == 1 and f["sdp_iob"][-1] == 2
    assert len(f["sdp_words"]) == len(f["sdp_gidx"]) == len(f["pi_e1"])
    assert all(0 <= d <= K.MAX_POS for d in f["pi_e1"] + f["pi_e2"])


@settings(max_examples=60, deadline=None)
@given(sents_st, st.data())
def test_featurize_window_tree_walk_equals_bfs(sents, data):
    """The kernel's SDP (a climb up the window tree) is the BFS shortest
    path of the reference graph, node for node."""
    texts = [" ".join(s) for s in sents]
    n = sum(len(s) for s in sents)
    g1 = data.draw(st.integers(0, n - 1))
    g2 = data.draw(st.integers(0, n - 1))
    (s1, t1), (s2, t2) = _coords(sents, g1), _coords(sents, g2)
    f = K.featurize_window(texts, s1, t1, s2, t2, 0)
    assert f["sdp_gidx"] == K.bfs_path(n, K.build_edges(sents)[0], g1, g2)


@settings(max_examples=60, deadline=None)
@given(st.lists(sents_st, min_size=1, max_size=3), st.data())
def test_tree_mean_states_is_batch_invariant(windows, data):
    """A row's TreeRNN states and scores do not depend on the rest of
    its batch (which sentences it shares with other windows, how long
    the other SDPs are), nor do its states depend on whether it is a
    fused row (memoized window lists) or a staged copy (fresh lists):
    both hold exactly."""
    W = K.init_weights()
    # each window's tail sentences recur at a new offset
    windows = windows + [w[1:] for w in windows if len(w) > 1]
    fused = []
    for sents in windows:
        n = sum(len(s) for s in sents)
        g1 = data.draw(st.integers(0, n - 1))
        g2 = data.draw(st.integers(0, n - 1))
        (s1, t1), (s2, t2) = _coords(sents, g1), _coords(sents, g2)
        fused.append(K.featurize_window([" ".join(s) for s in sents], s1, t1, s2, t2, 0))
    staged = [{k: list(v) for k, v in r.items()} for r in fused]
    batch = fused + staged
    got = K.tree_mean_states(batch, W)
    probs = K.score_batch(batch, W)
    for b, r in enumerate(batch):
        assert np.array_equal(got[b], K.tree_mean_states([r], W)[0])
        assert np.array_equal(probs[b], K.score_batch([r], W)[0])
    assert np.array_equal(got[: len(fused)], got[len(fused) :])


def _coords(sents, g):
    """(sentence, token) of window-global token index ``g``."""
    for si, s in enumerate(sents):
        if g < len(s):
            return si, g
        g -= len(s)
