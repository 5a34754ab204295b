"""Pure-numpy kernels for featurization and relation scoring.

These implement the *computation* of the reference's NLP/model stages
(SURVEY.md §2.9 G1–G5, §2.10 M1–M7) with no Spark dependency, so the
same code runs (a) inside Arrow batches via ``mapInPandas`` on
executors and (b) single-node for training. Tests re-derive the same
quantities independently (loops, no shared helpers) to give parity
teeth.

Reference semantics re-expressed:

- G1 dependency parse (``generate_sdp.py:72-78``): the reference shells
  out to the Stanford parser per sentence — irreproducible in-sandbox,
  so the engine pins a small deterministic dependency grammar
  (SURVEY.md §7.3.5): heads always point left (acyclic by
  construction), the attachment target is the nearest preceding token
  whose portable hash ≡ 0 (mod 3), else the previous token; token 0 is
  the sentence root. POS tags come from the alias dictionary + a
  closed function-word list + hash parity.
- G2 inter-sentence graph (``generate_sdp.py:90-107``): per-sentence
  edges on global token indices; roots of adjacent sentences chained;
  undirected.
- G3 entity token resolution (``generate_sdp.py:31-61``): the
  reference re-finds entities by string match with occurrence-priority
  heuristics; our candidates carry exact (sent_idx, tok_idx)
  coordinates, so resolution is exact positional arithmetic — same
  observable result on clean input, minus the string-ambiguity quirks.
- G4 iSDP (``generate_sdp.py:111-114``): the reference takes the
  unweighted shortest path (networkx ``shortest_path``). Heads point
  left and sentence roots chain to the previous root, so the window
  graph is a tree whose every parent has a smaller index than its
  child: the path is found by climbing from the larger of the two
  indices until the ends meet (``bfs_path`` stays as the test
  reference).
- G5 ADP (``recursive_net_utils/data_utils.py:13-149``): a dummy root
  joins sentence roots (``combine_parents_list``), and the reference
  TreeRNN walks the window's forest leaves-first (``tree_rnn.py:71-106``).
  The dummy root's state is never read, so every real node's state
  depends only on its own sentence: the kernel evaluates each distinct
  sentence of a batch once, level by level, and gathers each row's SDP
  states from those.
- M1–M7 (``rnn/elman_bidirection_RC.py``): embedding gather + feature
  concat, forward/backward Elman recurrences, bi-combiner
  ``tanh(h_f + h_b + h_bi W)``, softmax head. The reference scores one
  example per Theano call, so a candidate's score depends on that
  candidate alone. Here one live-prefix scan (``_scan``) runs every
  recurrence: the bi-RNN's forward, backward and combiner chains, the
  bi-LSTM's (M5), and the forward pass of BPTT training. Each step is
  one matmul over the Arrow chunk's rows still running, longest first,
  and every product that feeds ``p_rel`` gives a row the same bits
  whatever else is in its batch (``_row_matmul``; ``einsum`` for the
  head).

Everything is float64 end-to-end (the reference mixes float64/float32 —
``tree_rnn.py:7`` — a latent inconsistency we do not copy).

Executor-local memos are ``functools.lru_cache`` on pure functions, each
with a finite bound, so a long-lived Python worker keeps its memory
bounded and evicts least-recently-used entries first.
"""

from __future__ import annotations

import hashlib
from functools import lru_cache
from itertools import chain

import numpy as np

from .config import ENTITY_ALIASES

# ---------------------------------------------------------------- hashing

def h15(s: str) -> int:
    """Portable 60-bit hash (same as hashing.py; duplicated to keep
    kernels import-free of Spark modules)."""
    return int(hashlib.md5(s.encode("utf-8")).hexdigest()[:15], 16)


# memo bounds, in entries per worker process
_WORD_MEMO = 1 << 15  # distinct words
_SENT_MEMO = 1 << 16  # distinct sentences
_WINDOW_MEMO = 1 << 15  # distinct candidate windows


@lru_cache(maxsize=_WORD_MEMO)
def _h15w(w: str) -> int:
    """Cached h15 over word tokens — the featurizer calls this O(n²)
    per sentence (head attachment scans) over a small vocabulary, so
    memoization removes ~all md5 cost from the hot kernel."""
    return h15(w)


# ---------------------------------------------------------------- G1: parser

FUNCTION_WORDS = {"the": "DT", "a": "DT", "and": "CC", "of": "IN", "to": "IN"}

POS_LIST = ["DT", "CC", "IN", "OP", "NN", "JJ", "VB"]
REL_LIST = ["root", "det", "dep", "mod", "link"]
IOB_LIST = ["O", "E1", "E2"]


@lru_cache(maxsize=_WORD_MEMO)
def pos_tag(word: str) -> str:
    # word-level memo (r6): the SDP extraction tags ~4 words per
    # candidate over a small vocabulary — measured 1.2M calls for a
    # few thousand distinct words at sf0.1
    w = word.lower()
    if w in FUNCTION_WORDS:
        return FUNCTION_WORDS[w]
    if w in ENTITY_ALIASES:
        return "OP" if ENTITY_ALIASES[w][1] == "OP" else "NN"
    return "JJ" if _h15w(w) % 2 == 0 else "VB"


def head_of(words: list[str], i: int) -> int:
    """Deterministic head for token i (0-based); -1 for the root."""
    if i == 0:
        return -1
    for j in range(i - 1, -1, -1):
        if _h15w(words[j].lower()) % 3 == 0:
            return j
    return i - 1


@lru_cache(maxsize=_SENT_MEMO)
def heads_of(words: tuple[str, ...]) -> tuple[int, ...]:
    """Per-sentence head array, memoized on the sentence tuple — every
    candidate window re-parses its sentences (build_edges +
    combined_parents), and the same sentence appears in many windows;
    this makes parsing O(distinct sentences) per executor instead of
    O(windows)."""
    return tuple(head_of(words, i) for i in range(len(words)))


def dep_rel(words: list[str], i: int) -> str:
    if i == 0:
        return "root"
    p = pos_tag(words[i])
    if p == "DT":
        return "det"
    return "mod" if _h15w(words[i].lower()) % 5 == 0 else "dep"


def parse_sentence(words: list[str]) -> list[tuple[int, str, str, int, str]]:
    """→ [(addr, word, pos, head, rel)] with 0-based addr, head -1=root.

    (The reference emits 1-based addresses with head 0 = root,
    ``generate_sdp.py:77``; we keep 0-based internally and only shift
    in golden-format tests.)
    """
    return [
        (i, w, pos_tag(w), head_of(words, i), dep_rel(words, i))
        for i, w in enumerate(words)
    ]


# ------------------------------------ T3 / G3: reference string heuristics

def tag_insert_replace_once(
    sent: str, e1: str, e2: str, start1: int | None = None, start2: int | None = None
) -> str:
    """Reference T3 tag insertion
    (``generate_bb_training_data_2016.py:495-513,727-763``):
    ``str.replace(e, "<e1>"+e+"</e1>", 1)`` — first occurrence — with a
    char-offset slice fallback when the mention occurs more than once
    and offsets are known. The production pipeline splices at exact
    token coordinates instead (same observable result on unambiguous
    input); this function pins the reference's behavior for parity
    tests on the ambiguous cases.
    """

    def insert(s: str, ent: str, tag: str, start: int | None) -> str:
        if s.count(ent) > 1 and start is not None:
            return s[:start] + f"<{tag}>" + ent + f"</{tag}>" + s[start + len(ent):]
        return s.replace(ent, f"<{tag}>{ent}</{tag}>", 1)

    out = insert(sent, e1, "e1", start1)
    if start2 is not None and start1 is not None and start2 > start1:
        start2 += len("<e1></e1>")  # e1 tags shifted the offsets
    return insert(out, e2, "e2", start2)


def entity_token_index(
    words: list[str], entity: str, priority: int = 0
) -> int | None:
    """Reference G3 entity-index resolution — a faithful port of
    ``generate_sdp.py:31-61`` (``get_entity_index``):

    1. Build one match-list per entity token (exact token equality).
    2. If NO entity token matches anywhere, fall back to a single list
       of substring matches of the *last* entity token (the reference's
       loop variable retains its final value, ``:39-40``).
    3. Base index = first entity token's first occurrence (``priority=0``,
       the reference's truthy ``entity_priority``) or last occurrence
       (``priority=1``); on an empty first list, the second token's list
       (the ``except: entity_idx_list[1][...]`` fallback, ``:44-46,55-56``).
    4. Walk-back (``:47-51,58-61``): for entity tokens 0..2, whenever a
       token matches *exactly one* position, re-anchor the index to that
       position minus the token's offset within the entity — pointing at
       the entity's first token; the last unique token wins. The
       reference does not clamp at 0 and neither do we.

    Returns None where the reference would raise (nothing matches at
    all) — the one documented deviation.
    """
    entity_toks = entity.lower().split()
    low = [w.lower() for w in words]
    idx_lists = [[i for i, w in enumerate(low) if w == t] for t in entity_toks]
    if not any(idx_lists):
        idx_lists = [[i for i, w in enumerate(low) if entity_toks[-1] in w]]
    pick = 0 if priority == 0 else -1
    if idx_lists[0]:
        idx = idx_lists[0][pick]
    elif len(idx_lists) > 1 and idx_lists[1]:
        idx = idx_lists[1][pick]
    else:
        return None
    for t, lst in enumerate(idx_lists):
        if t > 2:
            break
        if len(lst) == 1:
            idx = lst[0] - t
    return idx


# ------------------------------------- G2/G4: graph + BFS (test reference)

def build_edges(sent_words: list[list[str]]) -> tuple[list[tuple[int, int]], list[int]]:
    """Undirected edge list over global token indices + per-sentence root
    global indices; adjacent-sentence roots chained (generate_sdp.py:106)."""
    edges: list[tuple[int, int]] = []
    roots: list[int] = []
    offset = 0
    for words in sent_words:
        roots.append(offset)  # token 0 is the root of each sentence
        for i, h in enumerate(heads_of(tuple(words))):
            if h >= 0:
                edges.append((offset + i, offset + h))
        offset += len(words)
    for a, b in zip(roots, roots[1:]):
        edges.append((a, b))
    return edges, roots


def bfs_path(n_nodes: int, edges: list[tuple[int, int]], src: int, dst: int) -> list[int] | None:
    """Unweighted shortest path (== nx.shortest_path on an undirected
    graph, generate_sdp.py:111-114); None when unreachable."""
    adj: list[list[int]] = [[] for _ in range(n_nodes)]
    for a, b in edges:
        adj[a].append(b)
        adj[b].append(a)
    prev = [-2] * n_nodes
    prev[src] = -1
    queue = [src]
    while queue:
        nxt: list[int] = []
        for u in queue:
            if u == dst:
                path = []
                while u != -1:
                    path.append(u)
                    u = prev[u]
                return path[::-1]
            for v in adj[u]:
                if prev[v] == -2:
                    prev[v] = u
                    nxt.append(v)
        queue = nxt
    return None


# ------------------------------------------------------------- G5: ADP tree

def combined_parents(sent_words: list[list[str]]) -> list[int]:
    """Window-level parent array with a dummy root at index n (the
    ``combine_parents_list`` dummy-root semantics, data_utils.py:13-31):
    sentence roots attach to the dummy root; other tokens keep their
    in-sentence head shifted to global indices."""
    parents: list[int] = []
    offset = 0
    total = sum(len(w) for w in sent_words)
    for words in sent_words:
        for h in heads_of(tuple(words)):
            parents.append(total if h < 0 else offset + h)
        offset += len(words)
    return parents  # dummy root = index `total` (implicit, no row)


# ----------------------------------------------------- W6: context windows

def context_windows(idxs: list[int], win: int) -> list[list[int]]:
    """Reference ``contextwin`` (features_bb2016.py:2402-2417): per
    position, the window of ``win`` indices centered on it, padded
    with -1 at both edges; ``win`` must be odd (reference asserts)."""
    if win % 2 != 1:
        raise ValueError("context window width must be odd")
    half = win // 2
    lpadded = [-1] * half + list(idxs) + [-1] * half
    return [lpadded[i : i + win] for i in range(len(idxs))]


# ---------------------------------------------------------- embeddings (M1)

EMB_DIM = 16
FEAT_DIM = 5  # PI / POS / IOB embedding width (reference uses 5)
HIDDEN = 16
N_CLASSES = 2
MAX_POS = 32  # position-feature clip bound (A4 without the 2-pass scan)


def _unit_vec(key: str, dim: int) -> np.ndarray:
    rs = np.random.RandomState(h15(key) % (2**32))
    return rs.uniform(-0.5, 0.5, dim)


@lru_cache(maxsize=_WORD_MEMO)
def word_vec(word: str) -> np.ndarray:
    """Deterministic per-word embedding (the reference loads word2vec
    text files, features_bb2016.py:2420-2439; in-sandbox the table is a
    hash-seeded deterministic analogue — same lookup semantics, `<unk>`
    impossible by construction)."""
    return _unit_vec("word:" + word.lower(), EMB_DIM)


def pos_vec_table() -> np.ndarray:
    return np.stack([_unit_vec("pos:" + p, FEAT_DIM) for p in POS_LIST])


def iob_vec_table() -> np.ndarray:
    return np.stack([_unit_vec("iob:" + t, FEAT_DIM) for t in IOB_LIST])


def pi_vec_table() -> np.ndarray:
    """Position-indicator embeddings for clipped distances 0..MAX_POS."""
    return np.stack([_unit_vec(f"pi:{d}", FEAT_DIM) for d in range(MAX_POS + 1)])


# ------------------------------------------------------------ model weights

def init_weights(seed: int = 7, use_ent_pres: bool = False) -> dict[str, np.ndarray]:
    """Frozen model parameters (SURVEY.md §7.1 phase 1:
    random-but-frozen; phase 4 replaces with trained values).
    x-feature width = EMB_DIM + 2*FEAT_DIM (PI e1/e2) + FEAT_DIM (POS)
    + FEAT_DIM (IOB) [+2 raw entity-presence bits when
    ``use_ent_pres`` — the reference's ``n_in += 2``,
    ``elman-bidirection.py:391``; gated off in the trained artifact]."""
    rs = np.random.RandomState(seed)
    xdim = EMB_DIM + 4 * FEAT_DIM + (2 if use_ent_pres else 0)

    def mat(*shape: int) -> np.ndarray:
        return rs.uniform(-0.1, 0.1, shape)

    return {
        "W_xh_f": mat(xdim, HIDDEN),
        "W_hh_f": mat(HIDDEN, HIDDEN),
        "b_f": mat(HIDDEN),
        "W_xh_b": mat(xdim, HIDDEN),
        "W_hh_b": mat(HIDDEN, HIDDEN),
        "b_b": mat(HIDDEN),
        "W_hh_bi": mat(HIDDEN, HIDDEN),
        "b_bi": mat(HIDDEN),
        # TreeRNN (shared-mode analogue: its own small set here)
        "W_hx_t": mat(EMB_DIM, HIDDEN),
        "W_hh_t": mat(HIDDEN, HIDDEN),
        "b_t": mat(HIDDEN),
        "W_tree_proj": mat(HIDDEN, FEAT_DIM),
        # softmax head; input = HIDDEN (+FEAT_DIM when ADP enabled)
        "W_hy": mat(HIDDEN, N_CLASSES),
        "b_y": mat(N_CLASSES),
        "W_hy_adp": mat(HIDDEN + FEAT_DIM, N_CLASSES),
    }


def init_lstm_weights(seed: int = 11) -> dict[str, np.ndarray]:
    """Frozen bi-LSTM parameters (M5, ``elman_bidirection_RC_LSTM.py``):
    per direction, 4 gates (i, f, c, o) with diagonal peepholes; the
    bi-combiner sums separate matmuls of h_f, h_b, and the previous
    combiner state (``..._LSTM.py:806-829``)."""
    rs = np.random.RandomState(seed)
    xdim = EMB_DIM + 4 * FEAT_DIM

    def mat(*shape: int) -> np.ndarray:
        return rs.uniform(-0.1, 0.1, shape)

    w: dict[str, np.ndarray] = {}
    for d in ("f", "b"):
        for g in ("i", "f", "c", "o"):
            w[f"W_x{g}_{d}"] = mat(xdim, HIDDEN)
            w[f"W_h{g}_{d}"] = mat(HIDDEN, HIDDEN)
            w[f"b_{g}_{d}"] = mat(HIDDEN)
        for g in ("i", "f", "o"):
            w[f"p_{g}_{d}"] = mat(HIDDEN)  # diagonal peephole
    w["W_f_bi"] = mat(HIDDEN, HIDDEN)
    w["W_b_bi"] = mat(HIDDEN, HIDDEN)
    w["W_hh_bi"] = mat(HIDDEN, HIDDEN)
    w["b_bi"] = mat(HIDDEN)
    w["W_hy"] = mat(HIDDEN, N_CLASSES)
    w["b_y"] = mat(N_CLASSES)
    return w


def _sigmoid(x: np.ndarray) -> np.ndarray:
    return 1.0 / (1.0 + np.exp(-x))


def _lstm(W: dict[str, np.ndarray], d: str):
    """Peephole-LSTM step for direction d, state (h, c), for :func:`_scan`."""
    def mm(a, key):
        return _row_matmul(a, W[key])

    def step(x, h, c):
        i = _sigmoid(mm(x, f"W_xi_{d}") + mm(h, f"W_hi_{d}") + c * W[f"p_i_{d}"] + W[f"b_i_{d}"])
        f = _sigmoid(mm(x, f"W_xf_{d}") + mm(h, f"W_hf_{d}") + c * W[f"p_f_{d}"] + W[f"b_f_{d}"])
        c_new = f * c + i * np.tanh(mm(x, f"W_xc_{d}") + mm(h, f"W_hc_{d}") + W[f"b_c_{d}"])
        o = _sigmoid(
            mm(x, f"W_xo_{d}") + mm(h, f"W_ho_{d}") + c_new * W[f"p_o_{d}"] + W[f"b_o_{d}"]
        )
        return o * np.tanh(c_new), c_new

    return step


def feature_batch_lstm(rows: list[dict], W: dict[str, np.ndarray]) -> np.ndarray:
    """Bi-LSTM features → (B, HIDDEN): forward + backward peephole LSTM
    over the SDP, combined by ``tanh([h_f h_b] [W_f; W_b] + h_bi W_hh + b)``.
    The same scan as the Elman kernel runs all three chains."""
    B = len(rows)
    if B == 0:
        return np.zeros((0, HIDDEN))
    X, lens, order = build_inputs(rows)
    H_f = _scan(_lstm(W, "f"), X, lens, n_state=2)
    H_r = _scan(_lstm(W, "b"), reverse_steps(X, lens), lens, n_state=2)
    H_fb = np.concatenate([H_f, reverse_steps(H_r, lens)], axis=2)
    W_fb = np.vstack([W["W_f_bi"], W["W_b_bi"]])
    H_bi = _scan(_elman(W["W_hh_bi"], W["b_bi"], W_fb), H_fb, lens)
    return _last_steps(H_bi, lens, order)


def score_batch_lstm(rows: list[dict], W: dict[str, np.ndarray]) -> np.ndarray:
    """Bi-LSTM variant of :func:`score_batch` → (B, 2) probabilities."""
    return softmax_head(feature_batch_lstm(rows, W), W, use_adp=False)


def weights_to_lists(w: dict[str, np.ndarray]) -> dict[str, list]:
    return {k: v.tolist() for k, v in w.items()}


def weights_from_lists(d: dict[str, list]) -> dict[str, np.ndarray]:
    return {k: np.asarray(v, dtype=np.float64) for k, v in d.items()}


# ------------------------------------------------------- featurize (per row)

@lru_cache(maxsize=_WINDOW_MEMO)
def _window_structures(key: tuple[str, ...], tokenize):
    """Window-level memo: many candidates share the same sentence
    window (every pair inside a conversation span), so everything that
    depends only on the window — tokenization, offsets, the SDP tree
    (G1/G2) and the ADP parent array (G5) — computes once per DISTINCT
    window per executor. Only the per-candidate tree walk and index
    arrays remain in the row loop.

    Returns (offsets, all_words, up, parents), or None for an
    empty-tokenizing window (F5). ``up`` is the SDP tree's parent: the
    in-sentence head, or the previous sentence's root for a sentence
    root (-1 for the first)."""
    split = tokenize or (lambda s: s.split(" "))
    sent_words = [tuple(split(s)) if s and s.strip() else () for s in key]
    if not all(sent_words):
        return None
    offsets = [0]
    up: list[int] = []
    for words in sent_words:
        off = offsets[-1]
        up.append(offsets[-2] if len(offsets) > 1 else -1)
        up.extend(off + h for h in heads_of(words)[1:])
        offsets.append(off + len(words))
    all_words = [w for ws in sent_words for w in ws]
    return offsets, all_words, up, combined_parents(sent_words)


def featurize_window(
    sent_texts: list[str],
    sent1: int,
    tok1: int,
    sent2: int,
    tok2: int,
    smin: int,
    tokenize=None,
) -> dict[str, list] | None:
    """One candidate window → SDP feature arrays (G1–G5, M11–M13).

    ``tokenize`` (optional callable text → tokens) selects the T2
    tokenizer; default is the whitespace split. The punkt/treebank
    end-to-end mode passes ``segmentation.treebank_tokenize`` so the
    (sent_idx, tok_idx) coordinates from treebank-mode mention
    detection index the same token lists here.

    Returns None when an entity index lies outside the window
    (quarantine route, F3) or the window tokenizes empty (F5). Every
    window graph is connected, so an SDP always exists.
    """
    win = _window_structures(tuple(sent_texts), tokenize)
    if win is None:
        return None
    offsets, all_words, up, parents = win
    g1 = int(offsets[sent1 - smin] + tok1)
    g2 = int(offsets[sent2 - smin] + tok2)
    n = len(all_words)
    if not (0 <= g1 < n and 0 <= g2 < n):
        return None
    # every parent's index is below its child's, so the larger end is
    # never an ancestor of the other: climb it until the ends meet
    a, b = g1, g2
    left, right = [a], [b]
    while a != b:
        if a > b:
            a = up[a]
            left.append(a)
        else:
            b = up[b]
            right.append(b)
    path = left + right[-2::-1]
    sdp_words = [all_words[i] for i in path]
    sdp_pos = [POS_LIST.index(pos_tag(w)) for w in sdp_words]
    sdp_iob = [
        1 if i == g1 else 2 if i == g2 else 0 for i in path
    ]
    p1 = path.index(g1)
    p2 = path.index(g2)
    pi1 = [min(abs(i - p1), MAX_POS) for i in range(len(path))]
    pi2 = [min(abs(i - p2), MAX_POS) for i in range(len(path))]
    return {
        "sdp_gidx": path,
        "sdp_words": sdp_words,
        "sdp_pos": sdp_pos,
        "sdp_iob": sdp_iob,
        "pi_e1": pi1,
        "pi_e2": pi2,
        "win_words": all_words,
        "parents": parents,
    }


# ------------------------------------------------------ batched forward pass

def build_inputs(
    rows: list[dict], use_ent_pres: bool = False
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """M1/M2/M11–M13 input assembly: rows → (X (B,L,xdim), lens (B,),
    order (B,)). Row b of X is ``rows[order[b]]``: rows come longest
    first (a stable sort), the order :func:`_scan` needs, and X is zero
    past each row's end. Shared by inference and BPTT training so both
    see bit-identical inputs.

    ``use_ent_pres=True`` (M12 consumption, the reference's
    ``augment_entity_presence`` mode) appends the raw 2-bit
    entity-presence pair per token — rows must then carry
    ``ent_pres_e1``/``ent_pres_e2`` (emitted by ``featurize_pair``).

    Vectorized: per-token Python is just a batch-vocabulary id lookup;
    all embedding gathers and the feature concat run as whole-batch
    numpy ops (this was 70%+ of scoring cost as a per-row loop)."""
    B = len(rows)
    pos_t = pos_vec_table()
    iob_t = iob_vec_table()
    pi_t = pi_vec_table()
    lens = np.array([len(r["sdp_words"]) for r in rows], dtype=np.int64)
    order = np.argsort(-lens, kind="stable")
    lens = lens[order]
    L = int(lens[0]) if B else 0
    wid = np.zeros((B, L), dtype=np.int64)
    pi1 = np.zeros((B, L), dtype=np.int64)
    pi2 = np.zeros((B, L), dtype=np.int64)
    pos = np.zeros((B, L), dtype=np.int64)
    iob = np.zeros((B, L), dtype=np.int64)
    vocab: dict[str, int] = {}
    setdefault = vocab.setdefault
    ep1 = np.zeros((B, L), dtype=np.float64) if use_ent_pres else None
    ep2 = np.zeros((B, L), dtype=np.float64) if use_ent_pres else None
    for b, i in enumerate(order):
        r = rows[i]
        n = int(lens[b])
        wid[b, :n] = [setdefault(w.lower(), len(vocab)) for w in r["sdp_words"]]
        pi1[b, :n] = r["pi_e1"]
        pi2[b, :n] = r["pi_e2"]
        pos[b, :n] = r["sdp_pos"]
        iob[b, :n] = r["sdp_iob"]
        if use_ent_pres:
            ep1[b, :n] = r["ent_pres_e1"]
            ep2[b, :n] = r["ent_pres_e2"]
    if vocab:
        emb = np.empty((len(vocab), EMB_DIM))
        for w, i in vocab.items():
            emb[i] = word_vec(w)
    else:
        emb = np.zeros((1, EMB_DIM))
    channels = [emb[wid], pi_t[pi1], pi_t[pi2], pos_t[pos], iob_t[iob]]
    if use_ent_pres:
        channels += [ep1[:, :, None], ep2[:, :, None]]
    X = np.concatenate(channels, axis=2)
    X *= (np.arange(L)[None, :] < lens[:, None])[:, :, None]
    return X, lens, order


def _scan(step, X: np.ndarray, lens: np.ndarray, n_state: int = 1) -> np.ndarray:
    """The kernel's one time-step loop. ``X`` (B, L, ·) holds rows
    sorted longest first with lengths ``lens``, so the rows still
    running at step t are a prefix: step t calls ``step(X[:k, t],
    *state[:k])`` on those k rows alone, and a finished row is never
    touched again. ``step`` returns the new state tuple, output first;
    the state starts at zero. → every step's output (B, L, HIDDEN),
    zero past each row's end."""
    B, L = X.shape[:2]
    out = np.zeros((B, L, HIDDEN))
    state = [np.zeros((B, HIDDEN)) for _ in range(n_state)]
    for t, k in enumerate(np.count_nonzero(lens[:, None] > np.arange(L), axis=0)):
        new = step(X[:k, t], *[s[:k] for s in state])
        for s, v in zip(state, new):
            s[:k] = v
        out[:k, t] = new[0]
    return out


def _elman(U: np.ndarray, b: np.ndarray, Wx: np.ndarray | None = None):
    """Elman step ``tanh(x Wx + h U + b)`` for :func:`_scan`; without
    ``Wx`` the input arrives projected."""
    def step(x, h):
        if Wx is not None:
            x = _row_matmul(x, Wx)
        return (np.tanh(x + _row_matmul(h, U) + b),)

    return step


def reverse_steps(A: np.ndarray, lens: np.ndarray) -> np.ndarray:
    """Each row of ``A`` (B, L, ·) read back to front over its first
    ``lens[b]`` steps, zero past them: step s holds step lens[b]-1-s.
    The backward chains run forward over this; it is its own inverse."""
    idx = lens[:, None] - 1 - np.arange(A.shape[1])
    out = np.take_along_axis(A, np.maximum(idx, 0)[:, :, None], axis=1)
    out *= (idx >= 0)[:, :, None]
    return out


def birnn_states(
    X: np.ndarray, lens: np.ndarray, W: dict[str, np.ndarray]
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """M3/M4 states at every step of length-sorted inputs
    (:func:`build_inputs`) → (H_f, H_r, H_bi), each (B, L, HIDDEN) and
    zero past each row's end. ``H_r`` is the backward chain in its own
    time (step s reads token lens-1-s); the bi-combiner ``h_bi_t =
    tanh(h_f_t + h_b_t + h_bi_{t-1} W + b)`` reads it in token order.
    Inference keeps each row's last ``H_bi``; BPTT reads all three."""
    H_f = _scan(_elman(W["W_hh_f"], W["b_f"], W["W_xh_f"]), X, lens)
    H_r = _scan(_elman(W["W_hh_b"], W["b_b"], W["W_xh_b"]), reverse_steps(X, lens), lens)
    H_bi = _scan(_elman(W["W_hh_bi"], W["b_bi"]), H_f + reverse_steps(H_r, lens), lens)
    return H_f, H_r, H_bi


def _last_steps(H: np.ndarray, lens: np.ndarray, order: np.ndarray) -> np.ndarray:
    """Each row's state at its last step, back in the caller's row order."""
    out = np.empty((len(H), HIDDEN))
    out[order] = H[np.arange(len(H)), lens - 1]
    return out


def feature_batch(
    rows: list[dict],
    weights: dict[str, np.ndarray],
    use_adp: bool = True,
    use_ent_pres: bool = False,
) -> np.ndarray:
    """Batched iDepNN recurrent features → (B, HIDDEN[+FEAT_DIM]).

    A row's features are the same bits whatever else is in its batch,
    as if the row were scored alone like the reference's minibatch=1
    (elman-bidirection.py:910-2484): Spark picks the Arrow batches, so
    a score that moved with them would differ between runs.
    """
    B = len(rows)
    if B == 0:
        return np.zeros((0, HIDDEN + (FEAT_DIM if use_adp else 0)))
    X, lens, order = build_inputs(rows, use_ent_pres=use_ent_pres)
    # Every chain is one live-prefix scan over the length-sorted rows:
    # step t runs one matmul over the k_t rows still running, not the
    # padded batch (the padded form spent ~2.3x the live work, mean
    # length 4.3 against a padded 10). Each row reads only its own
    # state, and every product goes through _row_matmul, whose rows do
    # not depend on k_t for these shapes: so neither the batch's other
    # rows nor its longest length reach a row's bits.
    h_bi = _last_steps(birnn_states(X, lens, weights)[2], lens, order)
    if use_adp:
        tree_feat = _row_matmul(tree_mean_states(rows, weights), weights["W_tree_proj"])
        return np.concatenate([h_bi, tree_feat], axis=1)
    return h_bi


def _row_matmul(a: np.ndarray, b: np.ndarray) -> np.ndarray:
    """``a @ b`` whose every row is the same whatever ``a``'s row count:
    numpy hands a one-row product to BLAS gemv, which rounds unlike the
    gemm that serves two rows or more. Checked against row counts 1–9,
    16, 33, 100 and 2048 on OpenBLAS 0.3.23 (1 and 2 threads) for the
    kernel's shapes K×N = 16×16, 16×5, 32×16, 36×16 and 38×16. It does
    not hold for N = 2: gemm's rows there change with the row count
    (at 1, 2, 3, 5, 6, 7, 9 and 33 rows), so the head uses ``einsum``."""
    if len(a) == 1:
        return (np.concatenate([a, a]) @ b)[:1]
    return a @ b


def tree_mean_states(rows: list[dict], W: dict[str, np.ndarray]) -> np.ndarray:
    """(B, HIDDEN) mean TreeRNN hidden state over each row's SDP tokens
    (the pre-projection half of M6 — projection by ``W_tree_proj`` is
    linear, so training can reuse these as fixed inputs). Reads only
    ``win_words``, ``parents`` and ``sdp_gidx`` of each row.

    The dummy root's state is discarded, so a node's state depends only
    on its own sentence: the batch evaluates each DISTINCT sentence
    once. A sentence starts at a root (``parents[i] == len(parents)``)
    and is keyed by its words and local parent offsets. Level-
    synchronous evaluation: nodes at the same height above the leaves
    evaluate as ONE matmul wave and their states scatter-add into their
    parents. Each row gathers its SDP states through its window's node
    map. Per 2,048-row batch this is 1,947 node evaluations against
    8,523 over distinct windows on kg_dense; kg_longconv's windows are
    nearly all one sentence (3,032 against 3,036)."""
    B = len(rows)
    if B == 0:
        return np.zeros((0, HIDDEN))
    # fused rows of one window share memoized list objects
    # (``_window_structures``), so object identity skips the sentence
    # split for repeated windows; staged rows carry fresh lists
    win_at: dict[int, int] = {}  # id(win_words) → offset into node_of
    node_of: list[int] = []  # window node → sentence node id
    row_at = np.empty(B, dtype=np.int64)
    sent_at: dict[tuple, int] = {}  # (words, local parents) → first node id
    words: list[str] = []
    par: list[int] = []  # parent node id; -1 for a sentence root
    lvl: list[int] = []  # height above the leaves
    for b, r in enumerate(rows):
        ww = r["win_words"]
        at = win_at.get(id(ww))
        if at is None:
            at = win_at[id(ww)] = len(node_of)
            p = r["parents"]
            n = len(p)
            starts = [i for i, q in enumerate(p) if q == n]
            if starts[:1] != [0]:
                raise ValueError("a window must start with a sentence root")
            for s, e in zip(starts, starts[1:] + [n]):
                key = (tuple(ww[s:e]), tuple([q - s for q in p[s + 1 : e]]))
                base = sent_at.get(key)
                if base is None:
                    base = sent_at[key] = len(words)
                    sw, loc = key
                    lv = [0] * len(sw)
                    # heads point left, so a reverse scan settles each
                    # node's height before it reaches the node
                    for i in range(len(loc), 0, -1):
                        q = loc[i - 1]
                        if not 0 <= q < i:
                            raise ValueError("heads must point left within a sentence")
                        if lv[i] >= lv[q]:
                            lv[q] = lv[i] + 1
                    words.extend(sw)
                    par.append(-1)
                    par.extend(base + q for q in loc)
                    lvl.extend(lv)
                node_of.extend(range(base, base + e - s))
        row_at[b] = at
    N = len(words)
    vocab: dict[str, int] = {}
    setdefault = vocab.setdefault
    wid = np.array([setdefault(w.lower(), len(vocab)) for w in words], dtype=np.int64)
    emb = np.empty((len(vocab), EMB_DIM))
    for w, i in vocab.items():
        emb[i] = word_vec(w)
    xw = _row_matmul(emb[wid], W["W_hx_t"]) + W["b_t"]  # (N, H) leaf inputs
    par_a = np.array(par, dtype=np.int64)
    par_a[par_a < 0] = N  # sentence roots feed the dummy-root sink
    lvl_a = np.array(lvl, dtype=np.int64)
    h = np.empty((N, HIDDEN))
    acc = np.zeros((N + 1, HIDDEN))  # +1 = dummy-root sink (discarded)
    for d in range(int(lvl_a.max()) + 1):
        idx = np.nonzero(lvl_a == d)[0]
        hi = np.tanh(xw[idx] + _row_matmul(acc[idx], W["W_hh_t"]))
        h[idx] = hi
        pidx = par_a[idx]
        for j in range(HIDDEN):  # scatter-add via C-speed bincount
            acc[:, j] += np.bincount(pidx, weights=hi[:, j], minlength=N + 1)
    # segment means over each row's SDP token states (row grain: the
    # SDP indices are candidate-specific even when the window repeats)
    counts = np.array([len(r["sdp_gidx"]) for r in rows])
    sdp = np.fromiter(
        chain.from_iterable(r["sdp_gidx"] for r in rows), np.int64, int(counts.sum())
    )
    g_all = np.array(node_of, dtype=np.int64)[sdp + np.repeat(row_at, counts)]
    bounds = np.zeros(B, dtype=np.int64)
    np.cumsum(counts[:-1], out=bounds[1:])
    sums = np.add.reduceat(h[g_all], bounds, axis=0)
    return sums / counts[:, None]


def softmax_head(feats: np.ndarray, W: dict[str, np.ndarray], use_adp: bool = True) -> np.ndarray:
    """M7: softmax over the head weights; (B, n_feat) → (B, 2) probs.
    ``einsum`` keeps each row's logits independent of the row count,
    which BLAS does not for two output columns (see :func:`_row_matmul`)."""
    logits = np.einsum("bi,ij->bj", feats, W["W_hy_adp" if use_adp else "W_hy"]) + W["b_y"]
    logits -= logits.max(axis=1, keepdims=True)
    e = np.exp(logits)
    return e / e.sum(axis=1, keepdims=True)


def score_batch(
    rows: list[dict],
    weights: dict[str, np.ndarray],
    use_adp: bool = True,
    use_ent_pres: bool = False,
) -> np.ndarray:
    """Batched iDepNN forward pass → (B, 2) class probabilities."""
    feats = feature_batch(rows, weights, use_adp=use_adp, use_ent_pres=use_ent_pres)
    return softmax_head(feats, weights, use_adp=use_adp)


def normalize_embedding_rows(E: np.ndarray) -> np.ndarray:
    """M10 — row-wise L2 normalization of an embedding matrix
    (``rnn/elman_bidirection_RC_to_be_used.py:580-607``:
    ``E / sqrt((E**2).sum(axis=1))``, applied after each update when
    embeddings are trainable). The engine's embeddings are frozen
    hash-derived tables, so nothing calls this in the default path —
    the op exists (and is tested) for the trainable-embedding config."""
    norms = np.sqrt((E**2).sum(axis=1, keepdims=True))
    return E / norms


def entity_presence_flags(
    words: list[str], e1_surface: str, e2_surface: str
) -> tuple[list[int], list[int]]:
    """M12 — per-token entity-presence bit pair vs the entity WORD SETS
    (``elman-bidirection.py:186-189``, token loop
    ``utils/features_bb2016.py:2067-2114``): ``[1,0]`` for a token in
    e1's split, ``[0,1]`` for e2's, ``[0,0]`` otherwise. A token in
    BOTH sets: the first such occurrence is e1 (``e1_done`` latch),
    every later one is e2 — the reference's ``[1,1]`` constant is dead
    there and stays dead here. Tokens are compared lowercased (the
    engine's mention granularity); the reference compares raw strips.

    Returns two parallel bit lists (f1[i], f2[i]) over ``words``.
    """
    e1_set = {w for w in e1_surface.lower().split() if w}
    e2_set = {w for w in e2_surface.lower().split() if w}
    f1: list[int] = []
    f2: list[int] = []
    e1_done = False
    for w in words:
        w = w.strip().lower()
        in1, in2 = w in e1_set, w in e2_set
        if in1 and in2:
            if not e1_done:
                f1.append(1)
                f2.append(0)
                e1_done = True
            else:
                f1.append(0)
                f2.append(1)
        elif in1:
            f1.append(1)
            f2.append(0)
        elif in2:
            f1.append(0)
            f2.append(1)
        else:
            f1.append(0)
            f2.append(0)
    return f1, f2


def second_ranked(probs: np.ndarray) -> np.ndarray:
    """O3 — 2nd-ranked class per row (``elman-bidirection.py:924-926``:
    ``np.argsort(confidences)[17]`` = second-highest of the 19 SemEval
    classes; dead under the repo default RANKING=False, carried here
    config-gated). Works for any class count ≥ 2: (B, C) → (B,) int."""
    if probs.shape[0] == 0:
        return np.zeros((0,), dtype=np.int32)
    return np.argsort(probs, axis=1)[:, -2].astype(np.int32)
