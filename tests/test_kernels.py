"""Unit tests for the pure-numpy featurization/scoring kernels.

Expected values are re-derived with independent logic (brute force /
hand-built examples), not by calling the kernel helpers twice —
SURVEY.md §5.2.1.
"""

from __future__ import annotations

import itertools

import numpy as np
import pytest

from cross_sentence_relation_extraction_idepnn_spark import kernels as K


# ------------------------------------------------------------- G1 parser

def test_parse_deterministic_and_rooted():
    words = "the fast scan reads every table".split()
    p1 = K.parse_sentence(words)
    p2 = K.parse_sentence(list(words))
    assert p1 == p2
    addr, w, pos, head, rel = p1[0]
    assert (addr, head, rel) == (0, -1, "root")
    for i, (_, _, _, h, _) in enumerate(p1[1:], start=1):
        assert 0 <= h < i  # heads always point left → acyclic


def test_parse_pos_tags_follow_dictionary():
    p = {w: t for _, w, t, _, _ in K.parse_sentence(["the", "scan", "table"])}
    assert p["the"] == "DT"
    assert p["scan"] == "OP"  # alias dict OP entity
    assert p["table"] == "NN"  # alias dict OBJ entity


# ------------------------------------------------------------- G2/G4 BFS

def _brute_shortest(n, edges, src, dst):
    """Independent oracle: enumerate paths with plain Dijkstra-by-BFS
    over an adjacency *set* (dedup), returning length only."""
    adj = {i: set() for i in range(n)}
    for a, b in edges:
        adj[a].add(b)
        adj[b].add(a)
    frontier, seen, d = {src}, {src}, 0
    while frontier:
        if dst in frontier:
            return d
        frontier = {v for u in frontier for v in adj[u]} - seen
        seen |= frontier
        d += 1
    return None


def test_bfs_path_matches_brute_force_lengths():
    rng = np.random.RandomState(3)
    for _ in range(25):
        n = int(rng.randint(2, 12))
        m = int(rng.randint(1, 2 * n))
        edges = [tuple(rng.randint(0, n, 2)) for _ in range(m)]
        edges = [(a, b) for a, b in edges if a != b]
        src, dst = rng.randint(0, n, 2)
        path = K.bfs_path(n, edges, int(src), int(dst))
        expect = _brute_shortest(n, edges, int(src), int(dst))
        if expect is None:
            assert path is None
        else:
            assert path is not None
            assert len(path) - 1 == expect
            assert path[0] == src and path[-1] == dst
            es = {frozenset(e) for e in edges}
            for a, b in zip(path, path[1:]):
                assert frozenset((a, b)) in es


def test_root_chain_connects_adjacent_sentences():
    """generate_sdp.py:106 semantics: sentence roots are chained, so a
    cross-sentence path always exists."""
    sents = [["alpha", "beta"], ["gamma", "delta"], ["eps", "zeta"]]
    edges, roots = K.build_edges(sents)
    assert roots == [0, 2, 4]
    assert (0, 2) in edges and (2, 4) in edges
    n = sum(len(s) for s in sents)
    assert K.bfs_path(n, edges, 1, 5) is not None


# ------------------------------------------------------------- G5 ADP tree

def test_combined_parents_dummy_root():
    sents = [["a", "b"], ["c"]]
    parents = K.combined_parents(sents)
    total = 3
    # token 0 and token 2 are sentence roots → attach to dummy root (=3)
    assert parents[0] == total and parents[2] == total
    assert 0 <= parents[1] < 2  # in-sentence head, global index


# ------------------------------------------------------------- featurize

def test_featurize_window_basic():
    sents = ["the scan reads", "a table row"]
    f = K.featurize_window(sents, sent1=0, tok1=1, sent2=1, tok2=1, smin=0)
    assert f is not None
    # global indices: scan = 1, table = 4
    assert f["sdp_gidx"][0] == 1 and f["sdp_gidx"][-1] == 4
    assert f["sdp_words"][0] == "scan" and f["sdp_words"][-1] == "table"
    assert f["sdp_iob"][0] == 1 and f["sdp_iob"][-1] == 2
    assert all(x == 0 for x in f["sdp_iob"][1:-1])
    assert f["pi_e1"][0] == 0 and f["pi_e2"][-1] == 0
    L = len(f["sdp_gidx"])
    assert f["pi_e1"] == list(range(L))
    assert f["pi_e2"] == list(range(L - 1, -1, -1))
    assert len(f["parents"]) == 6
    assert len(f["win_words"]) == 6


def test_featurize_window_quarantines_blank_sentence():
    assert K.featurize_window(["scan runs", "", "a table"], 0, 0, 2, 1, 0) is None
    assert K.featurize_window(["scan runs", "  ", "a table"], 0, 0, 2, 1, 0) is None


# ------------------------------------------------------------- scoring

def _rows(n=4, seed=0):
    rng = np.random.RandomState(seed)
    vocab = ["scan", "table", "reads", "the", "fast", "row", "data", "join"]
    rows = []
    for _ in range(n):
        sents = [
            [vocab[rng.randint(len(vocab))] for _ in range(int(rng.randint(2, 5)))]
            for _ in range(int(rng.randint(1, 3)))
        ]
        texts = [" ".join(s) for s in sents]
        s2 = len(sents) - 1
        t2 = len(sents[-1]) - 1
        f = K.featurize_window(texts, 0, 0, s2, t2, 0)
        assert f is not None
        rows.append(f)
    return rows


def test_score_batch_prob_simplex():
    rows = _rows(6)
    probs = K.score_batch(rows, K.init_weights())
    assert probs.shape == (6, 2)
    assert np.allclose(probs.sum(axis=1), 1.0)
    assert (probs >= 0).all()


def test_score_batch_order_and_padding_invariance():
    """Batching across variable-length SDPs must not change per-row
    features or scores by a single bit: score each row alone vs in one
    padded batch, and in permuted order."""
    rows = _rows(5, seed=1)
    W = K.init_weights()
    feats = K.feature_batch(rows, W)
    assert np.array_equal(feats, np.vstack([K.feature_batch([r], W) for r in rows]))
    batched = K.score_batch(rows, W)
    solo = np.vstack([K.score_batch([r], W) for r in rows])
    assert np.array_equal(batched, solo)
    perm = [3, 0, 4, 1, 2]
    permuted = K.score_batch([rows[i] for i in perm], W)
    assert np.array_equal(permuted, batched[perm])


def test_forward_pass_matches_loop_oracle_no_adp():
    """Independent per-row loop re-implementation of M1–M4/M7 (no ADP)."""
    rows = _rows(3, seed=2)
    W = K.init_weights()
    got = K.score_batch(rows, W, use_adp=False)
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
        h = np.zeros(K.HIDDEN)
        hf = []
        for x in xs:
            h = np.tanh(x @ W["W_xh_f"] + h @ W["W_hh_f"] + W["b_f"])
            hf.append(h)
        h = np.zeros(K.HIDDEN)
        hb = [None] * len(xs)
        for t in range(len(xs) - 1, -1, -1):
            h = np.tanh(xs[t] @ W["W_xh_b"] + h @ W["W_hh_b"] + W["b_b"])
            hb[t] = h
        hbi = np.zeros(K.HIDDEN)
        for t in range(len(xs)):
            hbi = np.tanh(hf[t] + hb[t] + hbi @ W["W_hh_bi"] + W["b_bi"])
        logits = hbi @ W["W_hy"] + W["b_y"]
        e = np.exp(logits - logits.max())
        np.testing.assert_allclose(got[b], e / e.sum(), rtol=1e-10, atol=1e-12)


def test_tree_state_matches_recursive_oracle():
    """M6 oracle: explicit recursive evaluation of the window's
    dummy-rooted forest, row by row, against the batched kernel. The
    batch repeats one sentence across windows at different offsets,
    carries staged-shape copies (fresh lists, as rows arrive from
    Arrow) and a chain-parents row whose parents are not
    ``heads_of(words)``."""
    import sys

    sys.setrecursionlimit(10000)
    W = K.init_weights()
    shared = "the scan reads a table"
    wins = [
        ([shared], 0, 1, 0, 4),
        (["fast row data", shared], 0, 1, 1, 4),
        (["join the data", "row fast", shared], 0, 0, 2, 3),
        ([shared, "data join"], 0, 2, 1, 1),
    ]
    rows = [K.featurize_window(t, s1, t1, s2, t2, 0) for t, s1, t1, s2, t2 in wins]
    rows += _rows(4, seed=5)
    rows += [{k: list(v) for k, v in r.items()} for r in rows]
    chain = ["join", "the", "fast", "row", "data"]
    rows.append(
        {"win_words": chain, "parents": [5, 0, 1, 2, 3], "sdp_gidx": [4, 3, 2, 1, 0]}
    )

    def oracle(r):
        words, parents = r["win_words"], r["parents"]
        n = len(words)
        children = {u: [] for u in range(n + 1)}
        for c, p in enumerate(parents):
            children[p].append(c)

        def h_of(u):
            acc = np.zeros(K.HIDDEN)
            for c in children[u]:
                acc += h_of(c)
            x = K.word_vec(words[u]) if u < n else np.zeros(K.EMB_DIM)
            return np.tanh(W["b_t"] + x @ W["W_hx_t"] + acc @ W["W_hh_t"])

        states = np.stack([h_of(g) for g in r["sdp_gidx"]])
        return states.mean(axis=0) @ W["W_tree_proj"]

    got = K.tree_mean_states(rows, W) @ W["W_tree_proj"]
    assert got.shape == (len(rows), K.FEAT_DIM)
    for b, r in enumerate(rows):
        np.testing.assert_allclose(got[b], oracle(r), rtol=1e-10, atol=1e-12)


def test_tree_mean_states_rejects_a_head_pointing_right():
    """The per-sentence levels come from a reverse scan that is only
    right when every head lies left of its dependent inside one
    sentence; any other parent array raises instead of scoring
    silently wrong."""
    W = K.init_weights()
    for parents in (
        [3, 2, 0],  # token 1's head lies right of it
        [1, 3, 1],  # token 0 is not a sentence root
        [4, 0, 4, 1],  # token 3's head lies in the previous sentence
    ):
        row = {"win_words": ["w"] * len(parents), "parents": parents, "sdp_gidx": [0]}
        with pytest.raises(ValueError):
            K.tree_mean_states([row], W)


# ------------------------------------------------------------- hashing

def test_h15_portable_against_reference_value():
    import hashlib

    s = "scan reads table"
    assert K.h15(s) == int(hashlib.md5(s.encode()).hexdigest()[:15], 16)
    assert K.h15(s) < 2**60


class TestEntityPresenceFlags:
    """M12 — reference token loop (utils/features_bb2016.py:2067-2114)."""

    def test_basic_membership(self):
        from cross_sentence_relation_extraction_idepnn_spark.kernels import (
            entity_presence_flags,
        )

        f1, f2 = entity_presence_flags(["a", "cat", "sat", "dog"], "cat", "dog")
        assert f1 == [0, 1, 0, 0]
        assert f2 == [0, 0, 0, 1]

    def test_multiword_entity_sets(self):
        from cross_sentence_relation_extraction_idepnn_spark.kernels import (
            entity_presence_flags,
        )

        f1, f2 = entity_presence_flags(
            ["big", "cat", "x", "small", "dog"], "big cat", "small dog"
        )
        assert f1 == [1, 1, 0, 0, 0]
        assert f2 == [0, 0, 0, 1, 1]

    def test_both_sets_latch_first_is_e1_rest_e2(self):
        from cross_sentence_relation_extraction_idepnn_spark.kernels import (
            entity_presence_flags,
        )

        # "cat" is in BOTH word sets: first occurrence → [1,0] (e1_done
        # latch), every later one → [0,1]; [1,1] never emitted
        f1, f2 = entity_presence_flags(["cat", "x", "cat"], "cat a", "cat b")
        assert list(zip(f1, f2)) == [(1, 0), (0, 0), (0, 1)]

    def test_case_insensitive_at_engine_granularity(self):
        from cross_sentence_relation_extraction_idepnn_spark.kernels import (
            entity_presence_flags,
        )

        f1, f2 = entity_presence_flags(["Cat"], "cat", "dog")
        assert (f1, f2) == ([1], [0])


def test_m10_normalize_embedding_rows():
    """M10: row-wise L2 norm, exactly E/sqrt(sum(E^2, axis=1)) per the
    reference theano update (elman_bidirection_RC_to_be_used.py:580-607)."""
    import numpy as np

    from cross_sentence_relation_extraction_idepnn_spark.kernels import (
        normalize_embedding_rows,
    )

    rng = np.random.RandomState(3)
    E = rng.uniform(-2, 2, (40, 16))
    N = normalize_embedding_rows(E)
    assert np.allclose(np.linalg.norm(N, axis=1), 1.0)
    # direction preserved
    assert np.allclose(N * np.linalg.norm(E, axis=1, keepdims=True), E)


def test_closed_form_tree_distance_matches_bfs_randomized():
    """The SDP oracle's math (graph.duck_sdp_ctes): closed-form depth
    (anchors-before count), LCA-min-sum for same-sentence pairs and
    depth1+|Δsent|+depth2 cross-sentence must equal the kernel BFS on
    randomized windows — this is the equivalence the flagship oracles
    stand on."""
    import random
    import string

    from cross_sentence_relation_extraction_idepnn_spark import kernels

    rng = random.Random(20260817)

    def rand_word():
        return "".join(
            rng.choices(string.ascii_lowercase, k=rng.randint(1, 6))
        )

    def depth_closed(words, i):
        anchors = [j for j, w in enumerate(words) if kernels.h15(w.lower()) % 3 == 0]
        before = [a for a in anchors if a < i]
        return i if not before else anchors[0] + len(before)

    def path_to_root(words, i):
        heads = kernels.heads_of(tuple(words))
        p = [i]
        while heads[p[-1]] >= 0:
            p.append(heads[p[-1]])
        return p

    for _ in range(300):
        ns = rng.randint(1, 4)
        sent_words = [
            [rand_word() for _ in range(rng.randint(1, 10))] for _ in range(ns)
        ]
        texts = [" ".join(w) for w in sent_words]
        s1, s2 = rng.randrange(ns), rng.randrange(ns)
        t1 = rng.randrange(len(sent_words[s1]))
        t2 = rng.randrange(len(sent_words[s2]))
        smin, smax = min(s1, s2), max(s1, s2)
        f = kernels.featurize_window(texts[smin : smax + 1], s1, t1, s2, t2, smin)
        bfs_len = len(f["sdp_gidx"])
        if s1 == s2:
            pu = path_to_root(sent_words[s1], t1)
            pv = path_to_root(sent_words[s1], t2)
            du = {n: d for d, n in enumerate(pu)}
            dist = min(du[n] + d for d, n in enumerate(pv) if n in du)
        else:
            dist = (
                depth_closed(sent_words[s1], t1)
                + abs(s2 - s1)
                + depth_closed(sent_words[s2], t2)
            )
        assert bfs_len == dist + 1, (sent_words, s1, t1, s2, t2)
        # and the closed-form depth itself equals the head-chain depth
        for words in sent_words:
            for i in range(len(words)):
                assert depth_closed(words, i) == len(path_to_root(words, i)) - 1


def test_annotator_agreement_hand_computed_kappa(spark):
    """Classic kappa worked example: confusion [[20, 5], [10, 15]]
    (n=50, agree=35, a1=25, b1=30): po=0.7, pe=0.5, kappa=0.4 — plus
    the perfect (1e6), chance-only (0), and negative (sign-split
    truncation) regimes."""
    from cross_sentence_relation_extraction_idepnn_spark.operators.metrics import (
        annotator_agreement,
    )

    def pairs(rows):
        return spark.createDataFrame(rows, "pred int, gold int")

    rows = (
        [(1, 1)] * 20 + [(1, 0)] * 5 + [(0, 1)] * 10 + [(0, 0)] * 15
    )
    r = annotator_agreement(pairs(rows)).first()
    assert (r.n, r.agree, r.a1, r.b1) == (50, 35, 25, 30)
    assert (r.po_e6, r.pe_e6, r.kappa_e6) == (700000, 500000, 400000)
    perfect = annotator_agreement(pairs([(1, 1)] * 3 + [(0, 0)] * 7)).first()
    assert perfect.kappa_e6 == 1_000_000
    # total systematic disagreement: kappa = -1
    neg = annotator_agreement(pairs([(1, 0)] * 5 + [(0, 1)] * 5)).first()
    assert neg.kappa_e6 == -1_000_000
    # degenerate: both annotators constant -> pe = 1, defined as 0
    const = annotator_agreement(pairs([(1, 1)] * 4)).first()
    assert const.kappa_e6 == 0


def test_kernel_memos_are_bounded():
    """Every executor-local memo is an lru_cache with a finite bound, so
    a long-lived Python worker cannot grow without limit."""
    from cross_sentence_relation_extraction_idepnn_spark import kernels

    memos = [f for f in vars(kernels).values() if hasattr(f, "cache_info")]
    assert {f.__name__ for f in memos} >= {
        "_h15w", "pos_tag", "word_vec", "heads_of", "_window_structures",
    }
    for f in memos:
        assert f.cache_info().maxsize is not None, f.__name__
    cap = kernels.word_vec.cache_info().maxsize
    for i in range(cap + 1):
        kernels.word_vec(f"w{i}")
    assert kernels.word_vec.cache_info().currsize <= cap
